package perfbench

import graft.operators.{HnswIndex, LocalServing, ServingIndex}

/** `ann_search`: the in-process serving tiers over seeded clustered
  * Gaussians in the day_6 large shape (50k × 384). The exact flat tier is
  * the recall oracle; the timed loop answers 100-query top-10 batches on
  * the HNSW and the IVF tier, with no Spark job inside it. */
object AnnSearch {
  val N = 50000
  val Dim = 384
  val K = 10
  val BatchSize = 100
  val Batches = 8
  val Clusters = 10
  val HnswM = 16
  val HnswEfConstruction = 64
  val HnswEf = 64
  val IvfNlist = 100
  val IvfNprobe = 10
  // a batch whose recall@10 falls below its tier's floor counts as failed
  val RecallFloor: Map[String, Double] = Map("hnsw" -> 0.9, "ivf" -> 0.8)
  private val DataSeed = 42L

  /** 10 Gaussian clusters, centers ~ N(0, 2), spread 0.5; fixed data seed. */
  def corpus(): Array[Array[Float]] = {
    val rnd = new java.util.SplittableRandom(DataSeed)
    def gauss(): Double = { // Box–Muller on the splittable generator
      val u = 1.0 - rnd.nextDouble(); val v = rnd.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centers = Array.fill(Clusters, Dim)(gauss() * 2)
    Array.tabulate(N) { i =>
      val c = centers(i % Clusters)
      Array.tabulate(Dim)(j => (c(j) + gauss() * 0.5).toFloat)
    }
  }

  /** The seed's query set: per batch, 100 corpus vectors the seed picks,
    * half perturbed by N(0, 0.1) (near a stored vector) and half by
    * N(0, 0.5), the clusters' own spread (as far from it as from the rest
    * of its cluster). */
  def queries(data: Array[Array[Float]], seed: Long): Array[Array[(Long, Array[Float])]] = {
    val rnd = new java.util.Random(seed)
    Array.tabulate(Batches) { b =>
      Array.tabulate(BatchSize) { i =>
        val noise = if (i < BatchSize / 2) 0.1 else 0.5
        val v = data(rnd.nextInt(N)).map(x => (x + rnd.nextGaussian() * noise).toFloat)
        ((b * BatchSize + i).toLong, v)
      }
    }
  }

  private def recall(got: Array[(Long, Array[(Float, Long)])], exact: Array[(Long, Array[(Float, Long)])]): Double =
    got.zip(exact).map { case ((_, g), (_, e)) =>
      g.map(_._2).toSet.intersect(e.map(_._2).toSet).size.toDouble / K
    }.sum / got.length

  def run(a: Main.Args, spans: Spans): Main.Outcome = {
    val out = new Main.Outcome
    val data = corpus()
    val rows = data.indices.map(i => (i.toLong, data(i)))
    // set-up: a session of the engine and the exact tier; the approximate
    // tiers are built once below and their build is added
    val (setupS, spark, flat) = Session.setUp(a.work) { s =>
      LocalServing.flatFrom(ServingIndex.buildFlat(s.sparkContext.parallelize(rows, Session.cores), Dim))
    }
    val rdd = spark.sparkContext.parallelize(rows, Session.cores).cache()
    rdd.count()
    val t0 = System.nanoTime()
    val hnsw = LocalServing.hnswFrom(HnswIndex.build(rdd, Dim, HnswM, HnswEfConstruction))
    val t1 = System.nanoTime()
    val ivf = LocalServing.ivfFrom(ServingIndex.buildIvf(rdd, Dim, IvfNlist))
    val t2 = System.nanoTime()
    rdd.unpersist()
    out.metrics("operators.hnsw.build_s") = (t1 - t0) / 1e9
    out.metrics("operators.ivf.build_s") = (t2 - t1) / 1e9
    out.metrics("setup_s") = setupS + (t2 - t0) / 1e9
    Main.note(f"builds: hnsw ${(t1 - t0) / 1e9}%.2f s, ivf ${(t2 - t1) / 1e9}%.2f s")

    val qs = queries(data, a.seed)
    val f0 = System.nanoTime()
    val exact = qs.map(b => flat.search(b, K))
    out.metrics("operators.flat.search_s") = Main.secondsSince(f0)

    final case class Op(hnswS: Double, ivfS: Double) { def wall: Double = hnswS + ivfS }
    val recalls = Map("hnsw" -> new scala.collection.mutable.ArrayBuffer[Double],
      "ivf" -> new scala.collection.mutable.ArrayBuffer[Double])
    def checked(tier: String, b: Int, got: Array[(Long, Array[(Float, Long)])]): Unit = {
      out.attempted += 1
      val r = recall(got, exact(b))
      recalls(tier) += r
      val ordered = got.forall { case (_, hs) => hs.length == K && hs.map(_._1).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)) }
      if (!ordered) out.fail(s"$tier batch $b: not $K ascending hits per query")
      else if (r < RecallFloor(tier)) out.fail(f"$tier batch $b: recall@10 $r%.3f below ${RecallFloor(tier)}")
    }
    def pass(label: String, traced: Boolean): Seq[Op] = {
      val p0 = System.nanoTime()
      val ops = qs.indices.map { b =>
        val s0 = System.nanoTime()
        val h = hnsw.search(qs(b), K, HnswEf)
        val s1 = System.nanoTime()
        val v = ivf.search(qs(b), K, IvfNprobe)
        val s2 = System.nanoTime()
        if (traced) {
          spans.add("hnsw.search", s0, s1, label, s"batch-$b")
          spans.add("ivf.search", s1, s2, label, s"batch-$b")
        }
        checked("hnsw", b, h)
        checked("ivf", b, v)
        Op((s1 - s0) / 1e9, (s2 - s1) / 1e9)
      }
      if (traced) spans.add("pass", p0, System.nanoTime(), "", label)
      ops
    }
    def passes(label: String, seconds: Double, traced: Boolean): Seq[Seq[Op]] = {
      val w0 = System.nanoTime()
      val done = scala.collection.mutable.ArrayBuffer(pass(s"$label-1", traced))
      while (Main.secondsSince(w0) < seconds) done += pass(s"$label-${done.size + 1}", traced)
      done.toSeq
    }
    passes("warmup", 1.0, traced = false)
    def summary(ps: Seq[Seq[Op]]) = (Main.median(ps.map(_.map(_.wall).sum)), Main.median(ps.flatten.map(_.wall)))
    val window = if (a.trace) a.seconds / 2.0 else a.seconds.toDouble
    val plain = passes("timed", window, traced = false)
    val (passS, p50) = summary(plain)
    out.metrics("pass_s") = passS
    out.metrics("op_p50_s") = p50
    if (a.trace) {
      val jvm = new JvmLayers
      jvm.start()
      val traced = passes("traced", window, traced = true)
      out.metrics ++= jvm.stop()
      val (tPass, tP50) = summary(traced)
      out.metrics("trace.overhead_pass_s") = tPass - passS
      out.metrics("trace.overhead_op_p50_s") = tP50 - p50
      val ops = traced.flatten
      val k = traced.size.toDouble
      out.metrics("operators.hnsw.search_s") = ops.map(_.hnswS).sum / k
      out.metrics("operators.ivf.search_s") = ops.map(_.ivfS).sum / k
      out.metrics("ann.hnsw_qps") = ops.size * BatchSize / ops.map(_.hnswS).sum
      out.metrics("ann.ivf_qps") = ops.size * BatchSize / ops.map(_.ivfS).sum
      out.metrics("operators.hnsw.recall_at_10") = Main.median(recalls("hnsw").toSeq)
      out.metrics("operators.ivf.recall_at_10") = Main.median(recalls("ivf").toSeq)
    }
    spark.stop()
    out
  }
}
