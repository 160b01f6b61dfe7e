package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/**
 * Serving-side observability counters (SURVEY §2.4 A11; reference
 * day_14/src/main.py:50-55 — prometheus `rag_requests_total`,
 * `rag_pipeline_queries_total`, `rag_pipeline_errors_total`,
 * `rag_request_duration_seconds`).
 *
 * Accumulator-backed: named [[LongAccumulator]]s registered with the
 * SparkContext, so increments from driver-side serving tiers and from
 * executor-side kernels (inside `runJob` partitions) aggregate into one
 * place and show up in the Spark UI per stage like any named
 * accumulator. A counter never changes a result — attach/detach is free
 * of semantic effect, which is why [[ServingIndex.Mutable.withCounters]]
 * is a post-construction hook rather than a constructor knob.
 */
final class ServingCounters(sc: SparkContext, name: String = "serving") {

  /** One per search CALL (a batch of queries = one request) — ALL
    * requests, failed ones included (the prometheus contract: error
    * rate = errors_total / requests_total; a success-only denominator
    * made that ratio read as zero errors under full outage). */
  val requestsTotal: LongAccumulator = sc.longAccumulator(s"${name}_requests_total")

  /** One per QUERY routed through a search call (counted on arrival,
    * like requestsTotal). */
  val queriesTotal: LongAccumulator = sc.longAccumulator(s"${name}_queries_total")

  /** Search calls that threw (counted, then rethrown — observing an
    * error is not handling it). */
  val errorsTotal: LongAccumulator = sc.longAccumulator(s"${name}_errors_total")

  /** Σ wall nanos across ALL search calls, failures included (with
    * requestsTotal it yields the mean). */
  val latencyNanosTotal: LongAccumulator = sc.longAccumulator(s"${name}_latency_nanos_total")

  /** Per-bucket request counts over [[ServingCounters.LatencyBuckets]]
    * (last slot: above the largest bound) — the latency distribution
    * `render` publishes as a Prometheus histogram. Driver-side: every
    * observation happens in [[observe]], on the driver. */
  private val latencyBuckets =
    new java.util.concurrent.atomic.AtomicLongArray(ServingCounters.LatencyBuckets.length + 1)

  /** Run one serving request under the counters. */
  def observe[T](nQueries: Int)(body: => T): T = {
    requestsTotal.add(1L)
    queriesTotal.add(nQueries.toLong)
    val t0 = System.nanoTime()
    try body
    catch {
      case t: Throwable =>
        errorsTotal.add(1L)
        throw t
    } finally {
      val nanos = System.nanoTime() - t0
      val b = ServingCounters.LatencyBuckets.indexWhere(nanos / 1e9 <= _)
      latencyBuckets.incrementAndGet(if (b < 0) ServingCounters.LatencyBuckets.length else b)
      latencyNanosTotal.add(nanos)
    }
  }

  /** Prometheus-exposition-style snapshot (day_14 serves
    * `generate_latest()`; this is the same contract minus the HTTP). The
    * request-duration histogram has cumulative `_bucket{le=…}` lines, and
    * its `_count` is the `+Inf` bucket, so the two always agree. */
  def render: String = {
    val avgSec =
      if (requestsTotal.value == 0L) 0.0
      else latencyNanosTotal.value.toDouble / requestsTotal.value / 1e9
    val h = s"${name}_request_duration_seconds"
    val les = ServingCounters.LatencyBuckets.map(_.toString) :+ "+Inf"
    val cumulative = les.indices.scanLeft(0L)(_ + latencyBuckets.get(_)).tail
    val histogram = les.zip(cumulative)
      .map { case (le, n) => s"""${h}_bucket{le="$le"} $n""" } ++
      Seq(s"${h}_sum ${latencyNanosTotal.value / 1e9}", s"${h}_count ${cumulative.last}")
    s"""# TYPE ${name}_requests_total counter
       |${name}_requests_total ${requestsTotal.value}
       |# TYPE ${name}_queries_total counter
       |${name}_queries_total ${queriesTotal.value}
       |# TYPE ${name}_errors_total counter
       |${name}_errors_total ${errorsTotal.value}
       |# TYPE ${name}_request_duration_seconds_avg gauge
       |${name}_request_duration_seconds_avg $avgSec
       |# TYPE $h histogram
       |${histogram.mkString("\n")}""".stripMargin
  }
}

object ServingCounters {
  /** Upper bounds (seconds) of the request-duration histogram's buckets:
    * the Prometheus client's default buckets, which the reference's
    * `rag_request_duration_seconds` uses. */
  val LatencyBuckets: Seq[Double] =
    Seq(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)
}
