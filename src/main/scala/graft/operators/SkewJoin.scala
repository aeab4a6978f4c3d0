package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resistant equi-join by key salting: the big side gets a
  * per-row salt in [0, buckets), the small side is replicated across
  * every bucket, and the join runs on (key, salt) — splitting a hot
  * key's rows over `buckets` reducers instead of one straggler task.
  *
  * Use when AQE's skew-join splitting isn't available or can't help
  * (e.g. the skewed side feeds a non-shuffle operator chain, or the
  * skew is in a broadcast-ineligible mid-size dim). Result is exactly
  * the plain inner join — salting only changes physical placement.
  * Cost: small side inflated ×buckets; keep buckets modest (8–64).
  */
object SkewJoin {

  def saltedInnerJoin(big: DataFrame, small: DataFrame, key: String,
                      buckets: Int = 16): DataFrame = {
    require(buckets > 0)
    // spark_partition_id + a per-partition row number would also work;
    // monotonically_increasing_id is cheapest and needs no shuffle
    val salted = big.withColumn("_salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    salted.join(replicated, Seq(key, "_salt"), "inner").drop("_salt")
  }

  /** Shuffle-skew diagnosis for a prospective join/agg key — the
    * "should I salt?" advisor a pipeline runs BEFORE committing to a
    * key at scale: the topK heaviest keys with their row share and
    * skew factor (count ÷ mean-rows-per-key). skew_x ≫ 1 on the top
    * key means one reducer drags the stage and [[saltedInnerJoin]] /
    * AQE skew handling is warranted.
    *
    * Shape: one map-side-combined count per key, a 3-number global
    * roll-up broadcast back, and a rank-pushed top-k
    * (WindowGroupLimit) — nothing driver-side, nothing quadratic.
    * Output (ORDERED): rank, key, cnt, share_ppm, skew_x_ppm, n_keys,
    * n_rows.
    */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("key"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(stats))
      .select(col("rank").cast("long").as("rank"), col("key"), col("cnt"),
        round(col("cnt") * lit(1000000.0) / col("n_rows")).cast("long").as("share_ppm"),
        round(col("cnt").cast("double") * col("n_keys") / col("n_rows") * lit(1000000.0))
          .cast("long").as("skew_x_ppm"),
        col("n_keys"), col("n_rows"))
      .orderBy("rank")
  }
}
