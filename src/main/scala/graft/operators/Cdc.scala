package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture apply — MERGE-INTO semantics as a plain
  * relational operator (no table format required): fold a batch of
  * keyed insert/update/delete operations into a base table.
  *
  * Semantics (per key, latest-op-wins within the batch by `seqCol`):
  *   - D: the base row disappears;
  *   - U: the base row is replaced by the change payload;
  *   - I: the payload appears (upsert: an I on an existing key also
  *        replaces — the idempotent interpretation every replayable
  *        pipeline wants).
  *
  * Scale shape: one anti-join of base against the batch's key set plus
  * a union with the batch's surviving payloads. A CDC batch is tiny
  * next to the base at 100 TB, so the anti-join broadcasts the keys —
  * the base is never shuffled, only scanned; with a partitioned sink
  * this becomes partition-pruned rewrite of touched partitions only.
  */
object Cdc {

  /** Latest operation per key from a possibly-multi-op batch:
    * (seqCol desc, op precedence) — deterministic for equal seq.
    */
  private def latestPerKey(changes: DataFrame, key: String, opCol: String,
                           seqCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(seqCol).desc, col(opCol))
    changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Apply `changes` (columns: key, opCol ∈ {I,U,D}, seqCol, payload…)
    * to `base` (columns: key, payload…). Returns the post-merge table
    * with base's column set.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, key: String,
                   opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val latest = latestPerKey(changes, key, opCol, seqCol)
    val touched = latest.select(col(key))
    val survivors = base.join(broadcast(touched), Seq(key), "left_anti")
    val upserts = latest.filter(col(opCol) =!= "D")
      .select(base.columns.map(col): _*)
    survivors.unionByName(upserts)
  }

  /** SCD-2 style change history: every change op becomes a versioned
    * row with [valid_from, valid_to) ranges per key — valid_to is the
    * NEXT change's seq (null for the current version; a D closes the
    * key with no successor row). The standard dimension-history shape,
    * one window over the batch.
    */
  def history(changes: DataFrame, key: String, opCol: String = "op",
              seqCol: String = "seq"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(seqCol), col(opCol))
    changes
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= "D")
      .withColumn("is_current", col("valid_to").isNull)
  }
}
