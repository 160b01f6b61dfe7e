package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The run's span record: name, start, end, parent and a query/request id.
  * Kept in memory; written once at the end of a traced run. */
final class Spans {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: String, id: String)
  private val origin = System.nanoTime()
  private val all = new ConcurrentLinkedQueue[Span]

  def add(name: String, startNs: Long, endNs: Long, parent: String, id: String): Unit =
    all.add(Span(name, startNs - origin, endNs - origin, parent, id))

  def write(path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = all.asScala.iterator.map { s =>
      s"""{"name": ${q(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""parent": ${q(s.parent)}, "id": ${q(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Spark's layers, measured from outside through a listener the harness
  * attaches: every job, stage and task, attributed afterwards to the
  * harness's own time windows (event times are wall-clock ms). Planning
  * time comes from each execution's QueryPlanningTracker. */
final class SparkLayers(spark: SparkSession, cores: Int) extends SparkListener {
  private final case class Task(launch: Long, finish: Long, failed: Boolean, runMs: Long,
                                overheadMs: Long, gcMs: Long, shufW: Long, shufR: Long,
                                spill: Long, inBytes: Long, inRecs: Long, outBytes: Long)
  private val jobs = new ConcurrentLinkedQueue[Long]
  private val stages = new ConcurrentLinkedQueue[Long]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val planningMs = new ConcurrentLinkedQueue[(Long, Long)]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      planningMs.add(System.currentTimeMillis() -> ms)
    }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks.add(Task(i.launchTime, i.finishTime, failed, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    else {
      val dur = i.finishTime - i.launchTime
      val overhead = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      tasks.add(Task(i.launchTime, i.finishTime, failed, m.executorRunTime, overhead,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
    }
  }

  /** Layer totals over the wall-clock windows [startMs, endMs). */
  def totals(windows: Seq[(Long, Long)]): Map[String, Double] = {
    drain()
    def in(t: Long) = windows.exists { case (a, b) => t >= a && t < b }
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    val wallMs = windows.map { case (a, b) => b - a }.sum.toDouble
    // wall time with no task running: window length minus the union of
    // task intervals clipped to it
    val busyUnion = windows.map { case (a, b) =>
      val iv = ts.map(t => (math.max(a, t.launch), math.min(b, t.finish)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      covered
    }.sum
    val runMs = ts.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs" -> jobs.asScala.count(in).toDouble,
      "spark.stages" -> stages.asScala.count(in).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.driver_gap_s" -> (wallMs - busyUnion) / 1e3,
      "spark.task_busy_s" -> runMs / 1e3,
      "spark.core_util" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.sched_delay_s" -> ts.map(_.overheadMs).sum / 1e3,
      "spark.task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shufW).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shufR).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "sources.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "sources.input_records" -> ts.map(_.inRecs).sum.toDouble,
      "sources.output_bytes" -> ts.map(_.outBytes).sum.toDouble,
      "plans.planning_s" -> planningMs.asScala.filter(p => in(p._1)).map(_._2).sum / 1e3)
  }

  /** Jobs started inside one window (for per-query and per-family counts). */
  def jobsIn(startMs: Long, endMs: Long): Int = {
    drain()
    jobs.asScala.count(t => t >= startMs && t < endMs)
  }
}

/** The JVM's own layers via its MXBeans: GC and JIT time, heap peak. */
final class JvmLayers {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private var gc0 = 0L
  private var jit0 = 0L

  private def gcMs = gcs.map(_.getCollectionTime).sum
  private def jitMs = if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    jit0 = jitMs
  }

  def stop(): Map[String, Double] = Map(
    "jvm.gc_s" -> (gcMs - gc0) / 1e3,
    "jvm.jit_s" -> (jitMs - jit0) / 1e3,
    "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
}

/** One local session per workload, as every engine entry point builds it. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's session: a new one on the running context when there is
    * one, else the context is started first (the JVM's cold start). */
  def start(work: String, running: Option[SparkSession] = None): SparkSession = {
    val spark = running.map(_.newSession()).getOrElse {
      val s = graft.Graft.configure(
        SparkSession.builder()
          .master(s"local[$cores]")
          .appName("perfbench")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.ui.enabled", "false"))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    graft.functions.VectorFunctions.registerAll(spark)
    graft.functions.TextFunctions.registerAll(spark)
    graft.plans.KnnJoinPlan.install(spark)
    spark
  }

  /** Run `body` three times, each on a new session, and return the median
    * wall time with the last session and result. The first repetition
    * also starts the context; the median is a warm one. */
  def setUp[T](work: String)(body: SparkSession => T): (Double, SparkSession, T) = {
    var spark: Option[SparkSession] = None
    var last: Option[T] = None
    val walls = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val s = start(work, spark)
      last = Some(body(s))
      spark = Some(s)
      Main.secondsSince(t0)
    }
    Main.note(s"set-up ${walls.map(x => f"$x%.2f").mkString(" ")}")
    (Main.median(walls), spark.get, last.get)
  }

  /** Bytes and regular files under a directory. */
  def du(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .foldLeft((0L, 0L)) { case ((b, n), p) => (b + java.nio.file.Files.size(p), n + 1) }

  /** Remove everything under dir, keeping dir itself. */
  def wipe(dir: java.io.File): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) wipeTree(f) else f.delete()
    }

  private def wipeTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach { c =>
      if (c.isDirectory) wipeTree(c) else c.delete()
    }
    f.delete()
  }
}
