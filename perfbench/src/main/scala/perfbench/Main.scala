package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark harness entry: one workload, one seed, one run.
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                    --out <dir> --fingerprints <file> [--record 1] [--capacity 1] }}}
  *
  * Launched by `perfbench/run.py` inside a scratch directory (the program
  * writes relative paths such as `target/graft-wh`). Prints a short report
  * and, as the last stdout line, the result object of the benchmark
  * contract: `{"correct","attempted","failed","metrics"}`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String,
                        fingerprints: String, record: Boolean, capacity: Boolean)

  /** One metric value as printed: name -> (value, unit). */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Metrics,
                          report: Seq[String])

  val Cpus: Int = Runtime.getRuntime.availableProcessors

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("out"), need("fingerprints"), m.get("record").contains("1"),
      m.get("capacity").contains("1"))
  }

  /** The session every workload runs on: `local[nproc]`, the settings of
    * the program's own bench main (`graft.Bench`), scratch dirs under the
    * working directory.
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File("spark-warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File("hadoop-tmp").getAbsolutePath)
      .config("spark.sql.maxPlanStringLength", "100000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The quantile `tail_ms` reports. It is fixed, not chosen from the
    * sample count, so failures or a faster run cannot change which
    * statistic it is.
    */
  val TailQ = 0.9

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def json(r: Result): String = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":$ms}"""
  }

  /** Exits explicitly: a thread left behind by the program must not keep
    * the JVM alive past the result, and a failure must not print one.
    */
  def main(argv: Array[String]): Unit = {
    val code = try {
      val a = parse(argv)
      val r = a.workload match {
        case "ingest_mixed" => Serving.run(a)
        case "analytics_suite" => Analytics.run(a)
        case w => sys.error(s"unknown workload $w")
      }
      r.report.foreach(println)
      println(json(r))
      SparkSession.getActiveSession.foreach(_.stop())
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }
}
