package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession: every main (Bench, Verify,
  * Explain, StageProbe and the `graft.tools` mains) and the test suites'
  * shared session come from here, so plan dumps, oracle dumps, bench
  * timings and tests all run under the same shape-affecting settings.
  *
  *   - `local[cores]` with shuffle partitions = cores. Cores default to the
  *     box's processors, not a fixed number: a hand-run `--isolate` read
  *     428.9 s for pagerank at local[4] against 99.1 s at local[32]
  *     (round 12), a phantom regression from the instrument, not the plan.
  *     `SPARK_GRAFT_CPUS` wins when set (the ladder scripts set it).
  *   - `spark.buffer.pageSize=16m`. Tungsten's default 64 MB page is sized
  *     for ≥ 1 GB of heap per core; at local[32] each concurrent task's
  *     fair share of the unified pool is a few hundred MB, and 32
  *     concurrent 64 MB-page consumers heap-OOM'd the 100× fixture's graph
  *     aggregates in an 8 GB JVM (PERF.md round 9d). 16 MB pages match the
  *     per-task budget: the sf10 suite ran 460 s with 0 errors at 16 GB,
  *     65 s faster than with default pages.
  *   - `spark.sql.legacy.bucketedTableScan.outputOrdering=true`: trust the
  *     staged bucketed tables' sortBy metadata (off by default since Spark
  *     3.0; only honored when a bucket is exactly one file, which the
  *     fixture writer guarantees). Without it every iteration join over
  *     the sorted-bucketed adjacency re-sorts each bucket; at sf10, 32
  *     concurrent ~250 MB sort pointer arrays heap-OOM'd a 16 GB JVM
  *     (round 10).
  *   - session time zone UTC: date and timestamp results, and the tests'
  *     date assertions, must not depend on the host zone (SURVEY §7.6).
  *   - UI off, log level WARN.
  *
  * SQL extensions are not installed here: the operators that need one
  * register it idempotently on first use (`JoinOps`, `AsofJoinNative`), so
  * sessions that callers bring along get them too.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The shape-affecting settings of a `local[cores]` session. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.buffer.pageSize" -> "16m",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A `local[cores]` session with [[settings]]; `overrides` are applied
    * after them and win. */
  def apply(appName: String, cores: Int = Session.cores,
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName(appName)
    (settings(cores) ++ overrides).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
