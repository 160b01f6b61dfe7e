package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/**
 * Per-query profile of [[graft.SparkEntry.queries]] entries: the wall of
 * producing the FULL output — `write.format("noop")` materializes every
 * row and column and writes nothing, where a `count()` would let Catalyst
 * prune measure and UDF columns — under [[Timing]]'s protocol, plus the
 * driver jobs, stages and tasks of every repetition and one line per job
 * of the last. Lifecycle queries cost driver round-trips, not data (see
 * BENCH.md "Archive-lifecycle job-count diet"), so the counts are the
 * noise-free companion of the walls:
 * `runMain graft.tools.QueryJobs <sfDir> <qname> [qname...]`.
 */
object QueryJobs {

  final case class Counts(jobs: Int, stages: Int, tasks: Int) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks)
    override def toString: String = s"jobs=$jobs stages=$stages tasks=$tasks"
  }

  /** Counts the jobs, submitted stages and finished tasks of a session's
    * context; while `trace` is on it also records one line per job
    * (stage call sites + planned task count), read back by [[drain]]. */
  final class Counter(spark: SparkSession) {
    private val jobs, ended, stages, tasks = new AtomicInteger
    private val lines = new ConcurrentLinkedQueue[String]()
    @volatile var trace = false

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (trace) {
          val desc = j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ")
          lines.add(f"job ${j.jobId}%4d stages=${j.stageInfos.size} " +
            f"tasks=${j.stageInfos.map(_.numTasks).sum}%4d  $desc")
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })

    /** Counts so far. Listener events arrive asynchronously after an
      * action returns, so this first waits (≤ 2 s) until every started
      * job has ended and no new job started over one 10 ms poll. */
    def now: Counts = {
      val deadline = System.nanoTime() + 2000000000L
      var seen = -1
      while ((ended.get < jobs.get || jobs.get != seen) && System.nanoTime() < deadline) {
        seen = jobs.get
        Thread.sleep(10)
      }
      Counts(jobs.get, stages.get, tasks.get)
    }

    /** `body`'s result, its wall seconds and the counts it cost. */
    def profile[A](body: => A): (A, Double, Counts) = {
      val c0 = now
      val t0 = System.nanoTime()
      val a = body
      val s = (System.nanoTime() - t0) / 1e9
      (a, s, now - c0)
    }

    /** The job lines recorded since the last drain. */
    def drain(): Seq[String] =
      Iterator.continually(lines.poll()).takeWhile(_ != null).toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    val counter = new Counter(spark)
    args.drop(1).foreach { name =>
      val q = graft.SparkEntry.queries(name)
      var c0 = counter.now
      Timing.report(name, after = { i =>
        val c = counter.now
        println(s"  [$i] ${c - c0}${if (i == 0) " (warm-up)" else ""}")
        c0 = c
        counter.trace = i == Timing.Runs - 1
      }) {
        q(spark, dir).write.format("noop").mode("overwrite").save()
      }
      counter.drain().foreach(l => println(s"    $l"))
    }
    spark.stop()
  }
}
