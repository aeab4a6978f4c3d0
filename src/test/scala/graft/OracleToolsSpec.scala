package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the checker-pipeline behaviors VERDICT r16 asked for:
  *
  *  - oracle_check.py's POST-SUITE HEALING pass (item 2): a query whose
  *    in-run attempt dies on a memory error is re-run once after the
  *    suite — the window where a co-resident Spark JVM has exited and
  *    the DuckDB budget recomputes against the idle box. The healed
  *    record is green with the original failure preserved in
  *    `first_err`, so the committed artifact is green-when-the-code-is-
  *    green with zero judge adjudication.
  *  - correctness_artifact.py's mismatch kinds (r16 ADVICE): a genuine
  *    comparison mismatch (oracle rows WERE computed) sets the
  *    corresponding flag explicitly false; null flags are reserved for
  *    checker-side exceptions.
  *
  * Drives the real python tools end-to-end (assume-gated on python3 +
  * duckdb + the sf0.001 fixture, like FaultSpec's environment gates).
  * The OOM is injected through the tools' documented test seam
  * (GRAFT_ORACLE_TEST_OOM_ONCE) — fail the first attempt exactly once —
  * because a genuine allocator failure is not deterministically
  * provokable in a unit test.
  */
class OracleToolsSpec extends AnyFunSuite {
  import scala.sys.process._

  private val repo = new java.io.File(".").getCanonicalPath
  private val sfDir = sys.env.getOrElse("GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

  private def pythonReady: Boolean =
    scala.util.Try(
      Seq("python3", "-c", "import duckdb, pandas").!(ProcessLogger(_ => ())) == 0
    ).getOrElse(false)

  private def gate(): Unit = {
    assume(pythonReady, "python3 with duckdb+pandas not available")
    assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")
  }

  private def writeParquet(outDir: java.io.File, name: String, sql: String): Unit = {
    val spark = Session.builder("OracleToolsSpec", threads = 2).getOrCreate()
    spark.read.parquet(s"$sfDir/region.parquet").createOrReplaceTempView("region")
    spark.sql(sql).coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(outDir, name).getAbsolutePath)
  }

  private def runCheck(outDir: java.io.File, env: (String, String)*): (Int, String) = {
    val sb = new StringBuilder
    val code = Process(
      Seq("python3", s"$repo/tools/oracle_check.py", sfDir, outDir.getAbsolutePath),
      new java.io.File(repo), env: _*).!(ProcessLogger(l => sb.append(l).append('\n')))
    (code, sb.toString)
  }

  private def records(outDir: java.io.File): Map[String, String] = {
    val src = scala.io.Source.fromFile(new java.io.File(outDir, "oracle_results.jsonl"))
    try src.getLines().map { l =>
      val name = "\"name\": \"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)
      (name, l)
    }.toMap
    finally src.close()
  }

  test("post-suite healing pass turns a transient OOM red into a green record with first_err") {
    gate()
    val outDir = java.nio.file.Files.createTempDirectory("oracle-heal").toFile
    val q = "SELECT count(*) AS n FROM region"
    writeParquet(outDir, "q_t", q)
    java.nio.file.Files.write(new java.io.File(outDir, "oracle_sql.json").toPath,
      s"""{"q_t": "$q"}""".getBytes("UTF-8"))
    val (code, out) = runCheck(outDir,
      "GRAFT_ORACLE_TEST_OOM_ONCE" -> "q_t", "GRAFT_ORACLE_RETRY_WAIT_S" -> "0")
    assert(out.contains("FAIL q_t"), s"injected OOM did not fire:\n$out")
    assert(out.contains("HEAL q_t: ok"), s"healing pass did not recover:\n$out")
    assert(code == 0, s"healed run must exit 0:\n$out")
    val rec = records(outDir)("q_t")
    assert(rec.contains("\"ok\": true"), s"record not green after heal: $rec")
    assert(rec.contains("first_err") && rec.contains("Out of Memory"),
      s"original failure not preserved in first_err: $rec")
    // artifact mapping: green + first_err passthrough
    val art = new java.io.File(outDir, "art.json")
    Process(Seq("python3", s"$repo/tools/correctness_artifact.py",
      outDir.getAbsolutePath, art.getAbsolutePath), new java.io.File(repo)).!
    val artJson = new String(java.nio.file.Files.readAllBytes(art.toPath), "UTF-8")
    assert(artJson.contains("\"hash_match\": true") && artJson.contains("first_err"))
  }

  test("genuine mismatches map to explicit false flags, checker errors stay null") {
    gate()
    val outDir = java.nio.file.Files.createTempDirectory("oracle-kinds").toFile
    // q_rows: spark result has an extra row vs the oracle -> mismatch_rows
    writeParquet(outDir, "q_rows",
      "SELECT r_regionkey FROM region UNION ALL SELECT 99 AS r_regionkey")
    // q_vals: same shape, one value off -> mismatch_values
    writeParquet(outDir, "q_vals",
      "SELECT r_regionkey, CASE WHEN r_regionkey = 0 THEN 'DRIFT' ELSE r_name END AS r_name FROM region")
    // q_boom: oracle SQL itself is invalid -> checker-side error
    writeParquet(outDir, "q_boom", "SELECT r_regionkey FROM region")
    java.nio.file.Files.write(new java.io.File(outDir, "oracle_sql.json").toPath,
      ("""{"q_rows": "SELECT r_regionkey FROM region",""" +
        """ "q_vals": "SELECT r_regionkey, r_name FROM region",""" +
        """ "q_boom": "SELECT no_such_column FROM region"}""").getBytes("UTF-8"))
    val (code, out) = runCheck(outDir)
    assert(code == 3, s"expected 3 failures, got $code:\n$out")
    val art = new java.io.File(outDir, "art.json")
    Process(Seq("python3", s"$repo/tools/correctness_artifact.py",
      outDir.getAbsolutePath, art.getAbsolutePath), new java.io.File(repo)).!
    val artJson = new String(java.nio.file.Files.readAllBytes(art.toPath), "UTF-8")
    def block(name: String): String = {
      val i = artJson.indexOf("\"" + name + "\"")
      artJson.substring(i, artJson.indexOf("}", i))
    }
    assert(block("q_rows").contains("\"rows_match\": false") &&
      block("q_rows").contains("\"schema_match\": true") &&
      block("q_rows").contains("\"hash_match\": false"), s"q_rows: ${block("q_rows")}")
    assert(block("q_vals").contains("\"rows_match\": true") &&
      block("q_vals").contains("\"hash_match\": false"), s"q_vals: ${block("q_vals")}")
    assert(block("q_boom").contains("\"rows_match\": null") &&
      block("q_boom").contains("\"hash_match\": null"), s"q_boom: ${block("q_boom")}")
  }
}
