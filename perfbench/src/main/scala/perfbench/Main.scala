package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** Benchmark harness entry point (started by perfbench/run.py).
  *
  * Runs one workload and prints, as the last line of standard output,
  * `{"correct", "attempted", "failed", "metrics"}`. An untraced run
  * (`--trace 0`) reports the end-to-end metrics, a traced run (`--trace 1`)
  * the per-layer metrics. Workloads and metrics: perfbench/README.md. */
object Main {

  /** Reported by every untraced run, on every workload. No tail percentile:
    * a run has too few operations (7 queries, 20 requests) to put ten
    * samples beyond one; the traced run reports the serving tail. The
    * median operation is per-layer: on batch_queries it is the median of 7
    * single executions, and its run-to-run spread reached the bound. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s")


  /** Reported by every traced run, on every workload; a layer the workload
    * does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "failed_ratio" -> "ratio", "op_p50_s" -> "s",
    "trace.overhead_pass_s" -> "s", "trace.overhead_op_p50_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_busy_s" -> "s", "spark.core_util" -> "ratio",
    "spark.sched_delay_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "sources.input_bytes" -> "bytes", "sources.input_records" -> "count",
    "sources.output_bytes" -> "bytes",
    "plans.planning_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "jvm.heap_peak_mb" -> "MiB") ++
    SparkQueries.Family.values.toSeq.sorted.flatMap(f => Seq(s"$f.wall_s" -> "s", s"$f.jobs" -> "count")) ++
    Seq("streaming.bytes_written" -> "bytes", "streaming.files_written" -> "count",
      "archive.bytes_stored_per_input_byte" -> "ratio") ++
    SparkQueries.Traced.flatMap(q => Seq(s"query.$q.wall_s" -> "s", s"query.$q.jobs" -> "count")) ++
    Seq("serving.http_s" -> "s", "serving.encode_s" -> "s", "serving.hydrate_s" -> "s",
      "serving.index_s" -> "s", "serving.mutate_store_s" -> "s",
      "serving.generator_late_s" -> "s", "serving.backlog_max" -> "count",
      "serving.search_p50_s" -> "s", "serving.search_p95_s" -> "s",
      "serving.mutate_p50_s" -> "s", "serving.max_rps" -> "1/s") ++
    Seq("hnsw", "ivf", "flat").map(t => s"operators.$t.search_s" -> "s") ++
    Seq("hnsw", "ivf").flatMap(t => Seq(s"operators.$t.build_s" -> "s",
      s"operators.$t.recall_at_10" -> "ratio", s"ann.${t}_qps" -> "1/s"))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, expected: String, spans: String)

  /** What a workload hands back: operation tallies plus its metrics. */
  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failed += 1; failures += what }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv.getOrElse("expected", ""), kv.getOrElse("spans", ""))
    val spans = new Spans
    val out = a.workload match {
      case "batch_queries" => SparkQueries.run(a, spans)
      case "serving_mixed" => ServingMixed.run(a, spans)
      case "ann_search" => AnnSearch.run(a, spans)
      case "digests" => SparkQueries.writeDigests(a); sys.exit(0)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace && a.spans.nonEmpty) spans.write(a.spans)
    out.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    val wanted = if (a.trace) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(out.metrics.contains)
    if (!a.trace && missing.nonEmpty)
      throw new IllegalStateException(s"metrics not measured: ${missing.mkString(", ")}")
    if (a.trace) out.metrics("failed_ratio") = out.failed.toDouble / math.max(1L, out.attempted)
    val metrics = wanted.map { case (name, unit) =>
      s""""$name": {"value": ${num(out.metrics.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${out.failed == 0 && out.attempted > 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": $metrics}""")
    System.out.flush()
    // non-daemon threads of the engine (HTTP pool, Spark) must not keep
    // the JVM alive once the result is out
    sys.exit(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  // ---- small statistics helpers shared by the workloads ----------------

  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr, stamped with the JVM's uptime. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench: ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $msg")

  /** Seeded Fisher–Yates permutation. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = {
    val rnd = new java.util.Random(seed)
    val arr = xs.toArray[Any]
    for (i <- arr.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq.asInstanceOf[Seq[T]]
  }
}
