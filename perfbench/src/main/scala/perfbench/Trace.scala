package perfbench

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds; `parent` is 0 for an
  * operation's root span. Spark jobs appear as spans of layer `spark`,
  * named `job:<first program frame of the job's call site>`.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Span recorder plus a `SparkListener` and a `QueryExecutionListener`.
  *
  * Operations are replayed one at a time on the calling thread ([[op]]).
  * Each operation tags its Spark jobs through the local properties
  * `perfbench.op` / `perfbench.span`, so task, stage and job figures land
  * on the operation and span that submitted them; after the operation the
  * listener bus is drained, so query-execution callbacks (planning phases)
  * that arrive asynchronously are attributed before the next operation
  * starts. Everything is kept in memory; [[Trace.export]] writes it out.
  *
  * While `recording` is false the listeners ignore every event, so an
  * untraced replay of the same call pays only the cost of the callback
  * dispatch — the difference between the two is the stated overhead.
  */
final class Tracer(val spark: SparkSession) extends Spans {
  private val sc = spark.sparkContext
  private val offsetMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs(): Double = System.nanoTime() / 1e6 + offsetMs

  final class Op(val id: Long, val kind: String) {
    private val c = mutable.HashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = synchronized { c(k) = c.getOrElse(k, 0.0) + v }
    def apply(k: String): Double = synchronized(c.getOrElse(k, 0.0))
    def counters: Map[String, Double] = synchronized(c.toMap)
    var ms: Double = 0.0
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[Op]
  @volatile var recording = false
  @volatile private var cur: Op = _
  private var nextId = 1L
  private var stack: List[Long] = Nil

  private final case class Job(op: Op, parent: Long, fn: String, startMs: Double)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]

  /** First `graft.` frame of a job's long call site, e.g.
    * `sources.Catalog.savePyramidState`.
    */
  private def callSiteFn(details: String): String =
    details.split("\n").map(_.trim).find(_.startsWith("graft."))
      .map(_.takeWhile(_ != '(').stripPrefix("graft.").replaceAll("\\$anonfun\\$(\\w+?)\\$\\d+.*", "$1").replace("$", ""))
      .getOrElse("other")

  private val execFn = mutable.HashMap.empty[Long, String]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if recording =>
        synchronized(execFn(x.executionId) = callSiteFn(x.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      val o = op.flatMap(id => ops.synchronized(ops.find(_.id == id.toLong)))
      o.foreach { o =>
        val parent = e.properties.getProperty("perfbench.span", "0").toLong
        // SQL jobs submitted off the calling thread (adaptive stages,
        // broadcasts) carry no program frame; their execution's does
        val fn = e.stageInfos.headOption.map(s => callSiteFn(s.details)).filter(_ != "other")
          .orElse(Option(e.properties.getProperty("spark.sql.execution.id"))
            .flatMap(x => synchronized(execFn.get(x.toLong))))
          .getOrElse("other")
        val j = Job(o, parent, fn, e.time.toDouble)
        synchronized {
          jobs(e.jobId) = j
          e.stageIds.foreach(stageJob(_) = j)
        }
        o.add("jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        jobSpans += Span(0, j.parent, j.op.id, s"job:${j.fn}", "spark", j.startMs, e.time.toDouble)
        j.op.add(s"job_ms:${j.fn}", e.time - j.startMs)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.op.add("stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val o = j.op
        o.add("tasks", 1)
        stageSubmitMs.get(e.stageId).foreach(s => o.add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
        val m = e.taskMetrics
        if (m != null) {
          o.add("task_ms", m.executorRunTime)
          o.add("task_cpu_ms", m.executorCpuTime / 1e6)
          o.add("gc_ms", m.jvmGCTime)
          o.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          o.add("shuffle_read_bytes", m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          o.add("spill_bytes", m.diskBytesSpilled)
          o.add("input_rows", m.inputMetrics.recordsRead)
          o.add("output_bytes", m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val o = cur
      if (recording && o != null)
        qe.tracker.phases.foreach { case (phase, s) => o.add(s"${phase}_ms", s.durationMs) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def counters(): (Long, Long, Long, Long) = (
    CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount, HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)

  /** Run one traced operation (on this thread only); returns its result
    * and its wall time in ms. The listener drain after the call is outside
    * the measured time.
    */
  def op[A](kind: String)(f: => A): (A, Double) = {
    val o = new Op(nextId, kind)
    nextId += 1
    ops.synchronized(ops += o)
    val before = counters()
    cur = o
    recording = true
    sc.setLocalProperty("perfbench.op", o.id.toString)
    val (r, ms) = try span(kind, "service", root = true)(f)
    finally {
      sc.setLocalProperty("perfbench.op", null)
      sc.setLocalProperty("perfbench.span", null)
      org.apache.spark.PerfbenchBridge.drain(sc)
      recording = false
      cur = null
    }
    val after = counters()
    o.add("codegen_compile_ms", (after._1 - before._1) / 1e6)
    o.add("codegen_compiles", (after._2 - before._2).toDouble)
    o.add("files_listed", (after._3 - before._3).toDouble)
    o.add("file_cache_hits", (after._4 - before._4).toDouble)
    o.ms = ms
    (r, ms)
  }

  /** A child span of the current operation. */
  def apply[A](name: String, layer: String)(f: => A): A = span(name, layer)(f)._1

  private def span[A](name: String, layer: String, root: Boolean = false)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = if (root) 0L else stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = nowMs()
    try {
      val r = f
      val t1 = nowMs()
      spans += Span(id, parent, Option(cur).map(_.id).getOrElse(0L), name, layer, t0, t1)
      (r, t1 - t0)
    } finally {
      stack = stack.tail
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
    }
  }

  /** Every span recorded so far, Spark jobs included (job ids assigned here). */
  def allSpans: Seq[Span] = synchronized {
    val js = jobSpans.zipWithIndex.map { case (s, i) => s.copy(id = -1L - i) }
    spans.toSeq ++ js
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the span).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN || a > ce) { if (!cs.isNaN) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  /** Mean self time per operation, by operation kind and layer. */
  def layerTable(t: Tracer): Seq[(String, Int, Double, Map[String, Double])] = {
    val spans = t.allSpans
    val self = selfTimes(spans)
    val byOp = spans.groupBy(_.op)
    t.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val layers = os.flatMap(o => byOp.getOrElse(o.id, Nil)).groupBy(_.layer)
        .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / os.size }
      (kind, os.size, os.map(_.ms).sum / os.size, layers)
    }
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Write spans.jsonl, layers.txt and summary.json under `dir`. */
  def export(t: Tracer, dir: String, metrics: Main.Metrics, notes: Seq[String]): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(d, "spans.jsonl"))
    try t.allSpans.sortBy(_.startMs).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${q(s.name)},"layer":${q(s.layer)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
    val rows = layerTable(t)
    val layers = rows.flatMap(_._4.keys).distinct.sorted
    val lt = new java.io.PrintWriter(new java.io.File(d, "layers.txt"))
    try {
      lt.println("Mean self time per operation (ms), by layer. Spark jobs are layer `spark`; " +
        "jobs that overlap each count in full, so a row can sum to more than `total`.")
      lt.println(("op" +: "n" +: "total" +: layers).map(c => f"$c%14s").mkString(" "))
      rows.foreach { case (kind, n, total, ls) =>
        lt.println((Seq(f"$kind%14s", f"$n%14d", f"$total%14.1f") ++
          layers.map(l => f"${ls.getOrElse(l, 0.0)}%14.1f")).mkString(" "))
      }
      notes.foreach(lt.println)
    } finally lt.close()
    val sj = new java.io.PrintWriter(new java.io.File(d, "summary.json"))
    try sj.println(metrics.map { case (k, (v, u)) => s"${q(k)}:{\"value\":$v,\"unit\":${q(u)}}" }
      .mkString("{", ",", "}"))
    finally sj.close()
  }
}
