package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** The benchmark's own SparkListener. Always on, at stage granularity, it
  * sums each job group's written rows (an operation sets its id as the job
  * group, so with one operation in flight a group is one operation). With
  * tracing on it also keeps every job and stage: its group, the harness
  * phase it ran in, its times and its task-metric totals, which run.py
  * turns into the span tree and the per-layer figures.
  */
class Tracer(trace: Boolean) extends SparkListener {
  private val started = new AtomicInteger
  private val ended = new AtomicInteger
  private val cost = new AtomicLong
  private val rowsByGroup = new ConcurrentHashMap[String, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobRecs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageRecs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    cost.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    started.incrementAndGet()
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, group)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    if (trace) {
      jobRecs.put(e.jobId, Map("job" -> e.jobId, "group" -> group,
        "phase" -> props.flatMap(p => Option(p.getProperty("graftbench.phase"))).getOrElse(""),
        "start_ms" -> e.time.toDouble, "stages" -> e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    if (trace) jobRecs.computeIfPresent(e.jobId, (_, r) => r + ("end_ms" -> e.time.toDouble))
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    val m = Option(info.taskMetrics)
    val job = stageJob.getOrDefault(info.stageId, -1)
    val written = m.map(_.outputMetrics.recordsWritten).getOrElse(0L)
    // the job-start event, which names the stage's job, always precedes it
    val group = if (job >= 0) jobGroup.getOrDefault(job, "") else ""
    if (written > 0) rowsByGroup.merge(group, written, (a, b) => a + b)
    if (trace) stageRecs.add(Map(
      "stage" -> info.stageId, "attempt" -> info.attemptNumber(), "job" -> job,
      "group" -> group, "name" -> info.name, "tasks" -> info.numTasks,
      "start_ms" -> info.submissionTime.map(_.toDouble).getOrElse(0.0),
      "end_ms" -> info.completionTime.map(_.toDouble).getOrElse(0.0),
      "run_ms" -> m.map(_.executorRunTime.toDouble).getOrElse(0.0),
      "cpu_ns" -> m.map(_.executorCpuTime.toDouble).getOrElse(0.0),
      "gc_ms" -> m.map(_.jvmGCTime.toDouble).getOrElse(0.0),
      "shuffle_read_bytes" -> m.map(x =>
        (x.shuffleReadMetrics.remoteBytesRead + x.shuffleReadMetrics.localBytesRead).toDouble)
        .getOrElse(0.0),
      "shuffle_write_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0),
      "spill_bytes" -> m.map(x => (x.memoryBytesSpilled + x.diskBytesSpilled).toDouble).getOrElse(0.0),
      "output_bytes" -> m.map(_.outputMetrics.bytesWritten.toDouble).getOrElse(0.0),
      "output_rows" -> written.toDouble,
      "failed" -> info.failureReason.isDefined))
  }

  /** Wait (at most 30 s) until every started job has ended on the bus. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var last = -1
    while (System.nanoTime() < deadline &&
        (ended.get() < started.get() || last != ended.get())) {
      last = ended.get()
      Thread.sleep(100)
    }
  }

  def costMs: Double = cost.get() / 1e6

  /** Rows written per job group. */
  def groups: Map[String, Any] = rowsByGroup.asScala.toMap.map { case (k, v) => k -> v.toLong }

  def jobs: Seq[Map[String, Any]] = jobRecs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int])

  def stages: Seq[Map[String, Any]] = stageRecs.asScala.toSeq
}

/** Minimal JSON writer for the record: maps, sequences, numbers, strings. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
