package graft

import graft.operators.StageCache
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Session-scoped stage reuse: keying on (stage descriptor, canonical
  * input plan), build-once semantics, the disable flag, and the
  * published build walls. */
class StageCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStage(): String = s"spec_stage_${java.util.UUID.randomUUID()}"

  test("same stage + same input plan builds once; result rows are the build's") {
    val in = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    val stage = freshStage()
    var builds = 0
    def get() = StageCache.cached(stage, in) { builds += 1; in.select(col("id")) }
    val first = get().collect().map(_.getLong(0)).toSet
    val second = get().collect().map(_.getLong(0)).toSet
    assert(first === Set(1L, 2L))
    assert(second === first)
    assert(builds === 1, "second call must reuse the materialized frame")
    assert(StageCache.buildSeconds.contains(s"x_stage_${stage}_build"))
  }

  test("different parameters (stage descriptor) do not collide") {
    val in = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val s1 = freshStage(); val s2 = freshStage()
    val a = StageCache.cached(s1, in)(in.where(col("v") > 15))
    val b = StageCache.cached(s2, in)(in.where(col("v") > 5))
    assert(a.count() === 1L)
    assert(b.count() === 2L)
  }

  test("different input plans do not collide under one stage descriptor") {
    val stage = freshStage()
    val inA = Seq((1L, "x")).toDF("id", "t")
    val inB = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "t")
    val a = StageCache.cached(stage, inA)(inA)
    val b = StageCache.cached(stage, inB)(inB)
    assert(a.count() === 1L)
    assert(b.count() === 3L)
  }

  test("spark.graft.stageCache.enabled=false bypasses the cache entirely") {
    val in = Seq((1L, "a")).toDF("id", "t")
    val stage = freshStage()
    spark.conf.set("spark.graft.stageCache.enabled", "false")
    try {
      var builds = 0
      def get() = StageCache.cached(stage, in) { builds += 1; in }
      get().count(); get().count()
      assert(builds === 2, "disabled cache must rebuild per call")
    } finally spark.conf.set("spark.graft.stageCache.enabled", "true")
  }

  test("LRU cap: a flood of distinct stages evicts the eldest, results stay correct") {
    val in = Seq((7L, "q")).toDF("id", "t")
    val first = freshStage()
    var firstBuilds = 0
    def getFirst() = StageCache.cached(first, in) { firstBuilds += 1; in }
    getFirst().count()
    // flood past MaxEntries so `first` is evicted...
    (0 until StageCache.MaxEntries + 2).foreach { _ =>
      StageCache.cached(freshStage(), in)(in).count()
    }
    // ...then a re-request REBUILDS (correctness preserved, just re-paid)
    assert(getFirst().collect().map(_.getLong(0)).toSet === Set(7L))
    assert(firstBuilds === 2)
  }

  test("overwriting the source parquet invalidates: re-derive rebuilds instead of serving stale rows") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-stale").toString + "/corpus"
    Seq((1L, "a"), (2L, "b")).toDF("id", "t").write.parquet(dir)
    var builds = 0
    def derive(): org.apache.spark.sql.DataFrame = {
      val in = spark.read.parquet(dir)
      StageCache.cached("stale_probe", in) { builds += 1; in.groupBy().count() }
    }
    assert(derive().head().getLong(0) === 2L)
    assert(derive().head().getLong(0) === 2L) // warm hit
    assert(builds === 1)
    // overwrite the corpus under the SAME path (what CollectionStore's
    // save/upsert does) — the canonicalized plan of a fresh read is
    // unchanged, but the part-file listing is new
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
      .write.mode("overwrite").parquet(dir)
    assert(derive().head().getLong(0) === 3L,
      "stale frame served after the source was overwritten")
    assert(builds === 2)
  }

  test("enabled flag parses defensively: garbage means ON, not a crash") {
    import spark.implicits._
    spark.conf.set("spark.graft.stageCache.enabled", "definitely")
    try {
      var builds = 0
      val in = Seq(11L).toDF("v")
      StageCache.cached("defensive_probe", in) { builds += 1; in }.count()
      StageCache.cached("defensive_probe", in) { builds += 1; in }.count()
      assert(builds === 1) // unparseable flag left the cache enabled
    } finally spark.conf.unset("spark.graft.stageCache.enabled")
  }
}
