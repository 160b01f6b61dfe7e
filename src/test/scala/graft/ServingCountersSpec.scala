package graft

import graft.operators.ServingCounters
import org.scalatest.funsuite.AnyFunSuite

/** `/metrics` publishes the request latency as a Prometheus histogram. */
class ServingCountersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("render publishes a cumulative request-duration histogram whose _count is the request count") {
    val counters = new ServingCounters(spark.sparkContext, "h")
    for (_ <- 0 until 3) counters.observe(1)(())
    counters.observe(2)(Thread.sleep(60))
    intercept[IllegalStateException](
      counters.observe(1)(throw new IllegalStateException("boom")))
    val text = counters.render
    val Bucket = """h_request_duration_seconds_bucket\{le="([^"]+)"\} (\d+)""".r
    val buckets = text.linesIterator.collect { case Bucket(le, n) => le -> n.toLong }.toSeq
    assert(buckets.map(_._1) ===
      ServingCounters.LatencyBuckets.map(_.toString) :+ "+Inf", text)
    val counts = buckets.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a <= b },
      s"bucket counts decrease as le grows: $buckets")
    val requests = counters.requestsTotal.value
    assert(requests === 5L)
    assert(counts.last === requests)
    assert(text.linesIterator.contains(s"h_request_duration_seconds_count $requests"), text)
    // the 60 ms request lies above the 0.05 s bound
    assert(buckets.toMap.apply("0.05") <= requests - 1, text)
    val sum = text.linesIterator.collectFirst {
      case l if l.startsWith("h_request_duration_seconds_sum ") => l.split(' ')(1).toDouble
    }
    assert(sum.exists(_ >= 0.06), text)
    assert(text.contains("# TYPE h_request_duration_seconds histogram"), text)
  }
}
