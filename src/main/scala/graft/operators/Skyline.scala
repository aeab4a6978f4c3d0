package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier) — the classic "not dominated in any
  * dimension" OLAP operator (Börzsönyi, Kossmann & Stocker, "The
  * Skyline Operator", ICDE 2001): keep every row for which no other row
  * in the same group is ≤ in BOTH dimensions and < in at least one.
  *
  * Spark-first formulation — the definitional per-pair dominance test is
  * O(n²); here it collapses to one aggregation plus one window over the
  * SHRUNK frame:
  *
  *  1. `groupBy(group, x).min(y)` — map-side combined, output bounded
  *     by |distinct x| per group, never the row count;
  *  2. a running `min(y)` over x ascending (window over the shrunk
  *     per-group frame, partition-parallel across groups — no global
  *     single-partition window);
  *  3. frontier = (x, minY) points where minY is a STRICT new low —
  *     `minY == prevMin` means some cheaper-x row ties y and dominates
  *     (strict in x, ≤ in y);
  *  4. a broadcast semi-join recovers the full input rows sitting
  *     exactly ON the frontier (duplicates of a frontier point all
  *     survive: neither of two equal points dominates the other).
  *
  * At 100 TB the only full-data operations are the combine-style
  * aggregation and the final broadcast semi-join scan; the window sees
  * |distinct x| rows per group.
  */
object Skyline {

  /** Rows of `df` on the per-`groupCol` Pareto frontier, minimizing
    * both `xCol` and `yCol`.
    */
  def skyline2dMin(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol), col(xCol)).agg(min(col(yCol)).as("__ymin"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(xCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = g.withColumn("__prev", min(col("__ymin")).over(w))
      .filter(col("__prev").isNull || col("__ymin") < col("__prev"))
      .select(col(groupCol), col(xCol), col("__ymin").as(yCol))
    df.join(broadcast(frontier), Seq(groupCol, xCol, yCol), "left_semi")
  }
}
