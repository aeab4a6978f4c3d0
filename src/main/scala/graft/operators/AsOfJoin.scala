package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (time-travel) join: for every left row, the latest right row
  * of the same key with rightTime ≤ leftTime — the operator order
  * books / sensor readings / price lookups need and Spark lacks as a
  * builtin.
  *
  * Relational single-shuffle formulation (preference (a) of the
  * custom-operator ladder — no custom SparkPlan needed): tag and union
  * both sides, one window over (key, time) carrying the last non-null
  * right payload forward, keep left rows. Equal timestamps join
  * (ts ≥ ts_right), so right rows sort before left rows at ties.
  * Scale: one shuffle on the key, no join explosion, skew handled like
  * any window (or pre-salt with [[SkewJoin]] patterns).
  */
object AsOfJoin {

  /** @param left       left rows (keep all — left-outer semantics)
    * @param right      right rows; payload columns are carried over as
    *                   `asof_<name>`
    * @param key        equi-join key column (present on both sides)
    * @param leftTime   left event-time column
    * @param rightTime  right event-time column
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // ONE struct carries the whole right payload through the window, so
    // every asof_<c> comes from the SAME right row even when some of its
    // payload values are null (independent per-column last(ignoreNulls)
    // would mix columns from different right rows in that case).
    val payloadType = org.apache.spark.sql.types.StructType(
      rightPayload.map(c =>
        org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))
    val tagged = left
      .withColumn("_t", col(leftTime))
      .withColumn("_is_left", lit(1))
      .select(Seq(col(key), col("_t"), col("_is_left")) ++
        leftCols.filterNot(_ == key).map(c => col(c)) :+
        lit(null).cast(payloadType).as("_asof_payload"): _*)
    val taggedRight = right
      .withColumn("_t", col(rightTime))
      .withColumn("_is_left", lit(0))
      .select(Seq(col(key), col("_t"), col("_is_left")) ++
        leftCols.filterNot(_ == key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightPayload.map(col): _*).as("_asof_payload"): _*)

    // right rows first at equal timestamps → inclusive ts ≥ ts_right;
    // the struct is null exactly on left rows, so ignoreNulls skips them
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.unionByName(taggedRight)
      .withColumn("_asof_payload", last(col("_asof_payload"), ignoreNulls = true).over(w))
      .filter(col("_is_left") === 1)
      .select((col(key) +: leftCols.filterNot(_ == key).map(c => col(c))) ++
        rightPayload.map(c => col("_asof_payload").getField(c).as(s"asof_$c")): _*)
  }
}
