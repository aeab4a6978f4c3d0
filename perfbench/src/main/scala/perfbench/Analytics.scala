package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import Main.{Args, Metrics, Result, median, quantile, secondsSince, TailQ}

/** `analytics_suite`: the batch users of `graft.SparkEntry.queries`.
  *
  * Fixtures are generated by the program's own `graft.GenData` at
  * [[Scale]] (the ten fixture tables, deterministic). The query set is
  * fixed: every [[Stride]]-th entry of `SparkEntry.queries` by name, a
  * spread over all families, run once in that order; nothing here
  * depends on the seed. A query's time is
  * building its DataFrame plus computing its fingerprint (row count and an
  * order-insensitive hash of every column), which consumes its whole
  * output; `Residue.sweep` runs after each query outside the timed region,
  * as in `graft.Bench`. Each fingerprint is compared with the one stored in
  * `perfbench/fingerprints.tsv`; a mismatch or an exception is a failed
  * query.
  */
object Analytics {

  val Scale = 0.001
  val Stride = 15

  def suite: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }

  /** Doubles are compared to 9 significant digits, so summation order
    * inside Spark cannot change a fingerprint.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null)).when(c === 0, lit("0")).otherwise(format_string("%.9g", c))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) => struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, _, _) => array_sort(map_entries(c)).cast(StringType)
    case _ => c
  }

  def fingerprint(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType)): _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def readStored(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f).getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }

  final case class QRun(name: String, ms: Double, fp: Option[(Long, String)], err: Option[String])

  /** One query, untimed sweep afterwards. `sp` wraps the build and the
    * execution in spans when tracing.
    */
  def runQuery(spark: SparkSession, dir: String, name: String, sp: Spans): QRun = {
    val t0 = System.nanoTime()
    val r = try {
      val df = sp("SparkEntry.queries", "queries")(SparkEntry.queries(name)(spark, dir))
      val fp = sp("fingerprint", "queries")(fingerprint(df))
      QRun(name, (System.nanoTime() - t0) / 1e6, Some(fp), None)
    } catch {
      case e: Exception => QRun(name, (System.nanoTime() - t0) / 1e6, None,
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"))
    }
    graft.operators.Residue.sweep(spark)
    r
  }

  def run(a: Args): Result = {
    val t0 = System.nanoTime()
    val spark = Main.session()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val dir = new java.io.File("fixtures").getAbsolutePath
    graft.GenData.generate(spark, dir, Scale)
    val setupS = secondsSince(t0)
    val fixtureRows = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).count()).sum
    // a fixed order: the first queries of a JVM pay its warm-up, so a
    // seeded order moved the median query time by a fifth between seeds
    val order = suite
    if (a.record) {
      val w = new java.io.PrintWriter(a.fingerprints)
      try {
        w.println(s"# graft.SparkEntry.queries fingerprints at GenData scale $Scale: name, rows, hash")
        suite.foreach { n =>
          runQuery(spark, dir, n, NoSpans).fp.foreach { case (rows, h) => w.println(s"$n\t$rows\t$h") }
        }
      } finally w.close()
    }
    val stored = readStored(a.fingerprints)

    def verdict(q: QRun): Option[String] = q.err.orElse(q.fp.flatMap(fp => stored.get(q.name) match {
      case None => Some("no stored fingerprint")
      case Some(s) if s != fp => Some(s"fingerprint ${fp._1}/${fp._2}, stored ${s._1}/${s._2}")
      case _ => None
    }))

    if (a.trace) return traced(a, spark, dir, order, verdict)

    // one pass whatever --seconds says (13-27 s on a 4-core box, about the
    // benchmark's run_seconds), so every run and every commit times the
    // same 18 query executions
    val runs = order.map(runQuery(spark, dir, _, NoSpans))
    val bad = runs.flatMap(q => verdict(q).map(q.name -> _))
    val ms = runs.map(_.ms)
    val m: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (setupS, "s"),
      "p50_ms" -> (median(ms), "ms"),
      "tail_ms" -> (quantile(ms, TailQ), "ms"),
      "ops_per_s" -> (ms.size / (ms.sum / 1e3), "1/s"),
      "ok_frac" -> ((runs.size - bad.size).toDouble / runs.size, "ratio"),
      "disk_bytes_per_row" -> (Main.dirBytes("target").toDouble / fixtureRows, "B"))
    val report = Seq(
      f"workload analytics_suite: seed ${a.seed}, ${order.size} queries, one pass, GenData scale $Scale, $fixtureRows fixture rows",
      f"suite_s ${ms.sum / 1e3}%.3f, query_geomean_s ${math.exp(ms.map(x => math.log(x / 1e3)).sum / ms.size)}%.4f; tail_ms is p${TailQ * 100}%.0f of ${ms.size} query times") ++
      runs.sortBy(-_.ms).take(5).map(q => f"  slowest ${q.name}%-28s ${q.ms}%9.1f ms") ++
      bad.map { case (n, why) => s"FAILED $n: $why" } ++
      m.map { case (k, (v, u)) => f"  $k%-20s $v%14.4f $u" }
    Result(bad.isEmpty, runs.size, bad.size, m, report)
  }

  private def traced(a: Args, spark: SparkSession, dir: String, order: Seq[String],
                     verdict: QRun => Option[String]): Result = {
    val t = new Tracer(spark)
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val bad = mutable.ArrayBuffer.empty[String]
    var resultRows = 0L
    order.zipWithIndex.foreach { case (n, i) =>
      // alternate which copy runs first, so caches warmed by the first
      // copy do not favour one side of the overhead comparison
      val sides = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      sides.foreach { traced =>
        if (traced) {
          val (q, ms) = t.op(n)(runQuery(spark, dir, n, t))
          tracedMs += ms
          resultRows += q.fp.map(_._1).getOrElse(0L)
          verdict(q).foreach(w => bad += s"$n: $w")
        } else plain += runQuery(spark, dir, n, NoSpans).ms
      }
    }
    t.close()
    val spans = t.allSpans.groupBy(_.name)
    def perQuery(name: String) = spans.getOrElse(name, Nil).map(_.ms).sum / order.size
    val values = Traced.sparkPerOp(t) ++ Map(
      "queries.build_ms" -> perQuery("SparkEntry.queries"),
      "queries.exec_ms" -> perQuery("fingerprint"),
      "spark.input_rows_per_result_row" -> t.ops.map(_("input_rows")).sum / math.max(1L, resultRows),
      "sources.files_listed_per_read" -> Traced.mean(t.ops.map(_("files_listed"))),
      "sources.file_cache_hits" -> Traced.mean(t.ops.map(_("file_cache_hits"))),
      "trace.overhead_ms" -> median(tracedMs.zip(plain).map { case (x, y) => x - y }.toSeq),
      "trace.overhead_frac" -> (tracedMs.sum / plain.sum - 1))
    val m = Traced.metrics(values)
    val notes = Seq(f"tracing overhead: traced minus untraced run of the same query, median " +
      f"${values("trace.overhead_ms")}%.2f ms, ${values("trace.overhead_frac") * 100}%.1f%% of untraced suite time")
    Trace.export(t, s"${a.out}/trace-${a.workload}", m, notes)
    val report = Seq(s"traced analytics_suite: ${order.size} queries; trace in ${a.out}/trace-${a.workload}") ++
      notes ++ bad.map("FAILED " + _) ++ m.map { case (k, (v, u)) => f"  $k%-34s $v%14.4f $u" }
    Result(bad.isEmpty, order.size, bad.size, m, report)
  }
}
