package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** DuckDB inlines WITH-CTEs by default, so an oracle whose CTE chain
    * is iterative (power-iteration `w1..w4`, Lloyd rounds `c1/c2`,
    * BPE merge rounds, pagerank steps) re-expands the whole upstream
    * subtree at EVERY reference — branching ~3× per level, the deepest
    * chains inflate a 32k-row computation into a multi-GB allocation
    * storm (q_embed_pca needed 2 GB / 3.9 s; every r10/r11 driver
    * correctness loss was this family OOM-starving the checker).
    * `AS MATERIALIZED` pins each CTE to compute once: measured on the
    * full suite, the 2 GB worst case drops to 64 MB / 0.09 s with
    * hash-identical results. Applied at every CTE site when writing
    * oracle_sql.json — EXCEPT queries using a `WINDOW name AS (...)`
    * clause, whose window definitions share the `name AS (` shape and
    * would be corrupted (all nine such oracles already run at the
    * 64 MB floor). Idempotent: `AS MATERIALIZED (` no longer matches.
    */
  private val CteSite = """\b([a-zA-Z_][a-zA-Z0-9_]*\s+AS\s+)\(""".r
  private val WindowClause = """(?i)\bWINDOW\s+\w+\s+AS\s*\(""".r
  def materializeCtes(sql: String): String =
    if (WindowClause.findFirstIn(sql).isDefined) sql
    else CteSite.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(m.group(1) + "MATERIALIZED ("))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev-iteration filter (same contract as Bench): comma-separated
    // query names; absent/empty = the full driver run
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
      .filter(_.nonEmpty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // bound suite residue (broadcast blocks, straggler cached plans)
      // so decade-fixture drives hold at the default heap — see Residue
      graft.operators.Residue.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(materializeCtes(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
