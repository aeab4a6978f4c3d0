package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. The mains
  * (`Verify`, `Bench`, `GenData`, `Explain`, `FaultProbe`) and the test
  * suites all start from [[builder]].
  */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[threads]` builder, one shuffle partition per thread. Callers
    * may set more on top (FaultProbe replaces the master with a
    * `local-cluster`).
    */
  def builder(appName: String, threads: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every execution-start event carries explainString(plan); deep
      // cached lineages late in a 260-query run can make that TEXT
      // multi-GB (the default cap is ~2^31, paid in build time AND
      // heap before truncation kicks in). Bound the print, not the plan.
      .config("spark.sql.maxPlanStringLength", "100000")
      // residue bounds (r15): the status store retains plan text for
      // 1000 executions by default (~100 KB each at the cap above) —
      // 50 keeps post-mortem value at 1/20 the heap; the periodic-GC
      // backstop drops from 30 min (longer than a suite) to 5, so the
      // ContextCleaner reclaims dead broadcast blocks even between
      // Residue sweeps.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.cleaner.periodicGC.interval", "5min")

  /** [[builder]]`.getOrCreate()` with the log level at WARN. */
  def start(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
