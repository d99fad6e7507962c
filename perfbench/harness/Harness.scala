package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ExtractFixtures, Registry, Tables}

/** The JVM side of the graft benchmark: one process per run, one operation
  * in flight at a time. It drives graft only through its public entry
  * points (`Registry.byName(q).build`, `Dataset.queryExecution`,
  * `ExtractFixtures.*`) and times each call from outside. Every query is
  * consumed through the order-insensitive row fingerprint
  * `select(xxhash64(all columns)).agg(count, sum(decimal(38,0)))`, so every
  * output column is computed and the timed pass doubles as the output check.
  *
  * perfbench/run.py chooses the operations, their seeded order and the
  * session settings; this program runs them and writes one JSON record.
  *
  * Arguments (all required):
  *   --data DIR      GenData fixture the operations read
  *   --ops FILE      one line per pass: the pass's queries, space-separated
  *   --setup FILE    fixtures staged during set-up, in order, one per line
  *   --expect FILE   `<table> <rows> <sumhash>` lines the fixture must match
  *                   (empty: check nothing, report the fingerprints)
  *   --reps N        repetitions of the staging
  *   --trace 0|1     record job and stage spans
  *   --cores N       local[N] and shuffle partitions
  *   --work DIR      scratch root: staging reps, Spark local dirs, warehouse
  *   --out FILE      JSON record
  */
object Harness {

  /** The 13 extract/load stagers, by the name the workloads use. */
  val stagers: Map[String, (SparkSession, String) => Any] = Map(
    "customerCsv" -> ExtractFixtures.customerCsv _,
    "documentsJson" -> ExtractFixtures.documentsJson _,
    "documentsText" -> ExtractFixtures.documentsText _,
    "supplierOrc" -> ExtractFixtures.supplierOrc _,
    "ordersEvolved" -> ExtractFixtures.ordersEvolved _,
    "ordersByYear" -> ExtractFixtures.ordersByYear _,
    "ordersByYearCompact" -> ExtractFixtures.ordersByYearCompact _,
    "eventsDailyCsv" -> ExtractFixtures.eventsDailyCsv _,
    "eventsDailyJson" -> ExtractFixtures.eventsDailyJson _,
    "mediaBmp" -> ExtractFixtures.mediaBmp _,
    "copurchaseEdges" -> ExtractFixtures.copurchaseEdges _,
    "copurchaseAdjacency" -> ExtractFixtures.copurchaseAdjacency _,
    "bucketedOrdersLineitem" -> ExtractFixtures.bucketedOrdersLineitem _)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sfDir = opt("data")
    val passes = lines(opt("ops")).map(_.split(" ").toSeq.filter(_.nonEmpty))
    val setupFixtures = lines(opt("setup"))
    val expected = lines(opt("expect")).map(_.split(" ")).map(a => a(0) -> s"${a(1)} ${a(2)}").toMap
    val reps = opt("reps").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config(Settings.session(cores, work).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(trace)
    spark.sparkContext.addSparkListener(tracer)
    HeapWatch.install()
    val sessionMs = Clock.now

    // Set-up: the fixture check (which also warms the parquet readers),
    // the warmup, then the staging `reps` times over, each rep into an
    // empty directory. The queries read the last rep's staging.
    val c0 = Clock.now
    val tables = checkFixture(spark, sfDir, expected)
    val checkMs = Clock.now - c0
    val w0 = Clock.now
    warmup(spark, sfDir)
    val warmupMs = Clock.now - w0
    val staged = (0 until reps).map { r =>
      val dir = work.resolve(s"staging$r")
      Files.createDirectories(dir)
      System.setProperty("java.io.tmpdir", dir.toString)
      // the bucketed fixtures are catalog tables; drop the last rep's
      spark.catalog.listTables().collect().filter(_.name.startsWith("graft_"))
        .foreach(t => spark.sql(s"DROP TABLE `${t.name}`"))
      setupFixtures.zipWithIndex.map { case (f, i) => runStager(spark, sfDir, s"s$r.$i", f) }
    }

    // The timed region: the passes run.py wrote, one query at a time.
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var cleanupMs = 0.0
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMillis
    passes.zipWithIndex.foreach { case (pass, p) =>
      pass.zipWithIndex.foreach { case (name, i) =>
        val rec = runQuery(spark, sfDir, s"p$p.$i", name)
        val c = cleanup(spark, ops.size + 1)
        cleanupMs += c
        ops += rec ++ Map("pass" -> p, "cleanup_ms" -> c)
      }
    }
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    val gcMs = (gcMillis - gc0).toDouble
    tracer.drain()

    val record = Map(
      "session_ms" -> sessionMs,
      "check_ms" -> checkMs,
      "tables" -> tables,
      "warmup_ms" -> warmupMs,
      "staging" -> staged,
      "passes" -> passes.size,
      "cpu_ms" -> cpuMs,
      "gc_ms" -> gcMs,
      "cleanup_ms" -> cleanupMs,
      "vm_hwm_kb" -> vmHwmKb,
      "heap_after_gc_peak_bytes" -> HeapWatch.peak,
      "trace_cost_ms" -> tracer.costMs,
      "settings" -> Settings.session(cores, work).toMap,
      "spark_version" -> spark.version,
      "ops" -> ops.toSeq,
      "groups" -> tracer.groups,
      "jobs" -> tracer.jobs,
      "stages" -> tracer.stages)
    Files.writeString(Paths.get(opt("out")), Json.render(record))
    spark.stop()
  }

  /** Build, plan and consume one declared query through the fingerprint. */
  def runQuery(spark: SparkSession, sfDir: String, id: String, name: String): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = Clock.now
    var t1, t2 = t0
    val out = try {
      phase(spark, "build")
      val df = Registry.byName(name).build(spark, sfDir)
      t1 = Clock.now
      phase(spark, "plan")
      val fp = fingerprint(df)
      fp.queryExecution.executedPlan
      t2 = Clock.now
      phase(spark, "consume")
      val row = fp.collect().head
      val tracker = fp.queryExecution.tracker.phases
      Map("rows" -> row.getLong(0),
        "sumhash" -> Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("null")) ++
        Seq("analysis", "optimization", "planning").map { p =>
          s"${p}_ms" -> tracker.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    val t3 = Clock.now
    sc.clearJobGroup()
    phase(spark, null)
    Map("id" -> id, "op" -> name, "module" -> modules(name), "start_ms" -> t0, "build_ms" -> (t1 - t0),
      "plan_ms" -> (t2 - t1), "consume_ms" -> (t3 - t2), "wall_ms" -> (t3 - t0)) ++ out
  }

  /** Run one extract stager into java.io.tmpdir, where ExtractFixtures
    * stages; bytes are the sizes of the data files it adds there. */
  def runStager(spark: SparkSession, sfDir: String, id: String, name: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    val before = treeFiles(root)
    sc.setJobGroup(id, name, interruptOnCancel = false)
    phase(spark, "stage")
    val t0 = Clock.now
    val err = try { stagers(name)(spark, sfDir); None } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] stager $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    val t1 = Clock.now
    sc.clearJobGroup()
    phase(spark, null)
    // Only data files count: Spark's checksum and marker files are not load output.
    val bytes = (treeFiles(root) -- before.keySet).collect {
      case (p, n) if !p.getFileName.toString.matches("""(\..*\.crc|_SUCCESS|_GRAFT_FIXTURE_OK)""") => n
    }.sum
    Map("id" -> id, "op" -> name, "start_ms" -> t0, "wall_ms" -> (t1 - t0),
      "bytes" -> bytes) ++ err.map("error" -> _)
  }

  /** Ops module of each declared query, for the per-module split. */
  val modules: Map[String, String] = Seq(
    "ScanOps" -> graft.etl.ops.ScanOps.defs, "JoinOps" -> graft.etl.ops.JoinOps.defs,
    "AggOps" -> graft.etl.ops.AggOps.defs, "WindowOps" -> graft.etl.ops.WindowOps.defs,
    "SetOps" -> graft.etl.ops.SetOps.defs, "ScalarOps" -> graft.etl.ops.ScalarOps.defs,
    "GraphOps" -> graft.etl.ops.GraphOps.defs, "LlmOps" -> graft.etl.ops.LlmOps.defs,
    "StreamOps" -> graft.etl.ops.StreamOps.defs, "UdfOps" -> graft.etl.ops.UdfOps.defs,
    "Multimodal" -> graft.multimodal.Multimodal.defs)
    .flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap

  /** Fingerprint every fixture table (which also warms the parquet readers)
    * and stop the run if one differs from what run.py expects. */
  def checkFixture(spark: SparkSession, sfDir: String, expected: Map[String, String]): Map[String, String] = {
    val got = Tables.schemas.keys.toSeq.sorted.map { t =>
      val df = if (t == "events") Tables.events(spark, sfDir) else Tables.table(spark, sfDir, t)
      val row = fingerprint(df).collect().head
      t -> s"${row.getLong(0)} ${Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("null")}"
    }.toMap
    val bad = expected.collect { case (t, want) if !got.get(t).contains(want) =>
      s"$t: got ${got.getOrElse(t, "no table")}, expected $want" }
    if (bad.nonEmpty) {
      System.err.println(s"[perfbench] fixture $sfDir is stale or partial: ${bad.mkString("; ")}")
      sys.exit(3)
    }
    got
  }

  def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(c => df.col(s"`${c.replace("`", "``")}`")): _*).as("h"))
      .agg(count(lit(1)).as("rows"), sum(col("h").cast("decimal(38,0)")).as("sumhash"))

  private def phase(spark: SparkSession, p: String): Unit =
    spark.sparkContext.setLocalProperty("graftbench.phase", p)

  /** graft.Bench's warmup after the table scans: executor pool, codegen
    * and the text pipeline's expression shapes. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.documents(spark, sfDir).limit(500)
      .selectExpr("doc_id", "explode(split(lower(text), '[^a-z]+')) AS w")
      .filter("w <> ''")
      .selectExpr("hash(w) AS h", "md5(w) AS m", "xxhash64(w) AS x")
      .selectExpr("count(distinct h) AS c", "count(m)", "count(x)")
      .collect()
    val shingles = graft.api.Graft.shingleHashes(
      Tables.documents(spark, sfDir).limit(50), col("doc_id"), col("text"))
      .select(col("doc_id"), col("h64").as("sh"))
    graft.api.Graft.jaccardCandidates(shingles).count()
  }

  /** Blocking unpersist of what the last query cached (nothing else is
    * cached), plus graft.Bench's every-24-queries GC; outside every
    * query's clock. */
  private def cleanup(spark: SparkSession, done: Int): Double = {
    val t0 = Clock.now
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (done % 24 == 0) System.gc()
    Clock.now - t0
  }

  private def treeFiles(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
      finally s.close()
    }

  private def lines(f: String): Seq[String] =
    Files.readAllLines(Paths.get(f)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def vmHwmKb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

/** The largest heap occupancy any garbage collection left behind: the
  * peak of what the heap had to keep, independent of how far the
  * collector let it grow between collections. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.MemoryType
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var max = 0L

  def peak: Double = max.toDouble

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > max) max = used }
          }
      }, null, null)
    case _ =>
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on Spark's clock. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The session settings that shape plans and timings, written into every record. */
object Settings {
  def session(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.buffer.pageSize" -> "16m",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
}
