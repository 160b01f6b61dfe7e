package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType}

/** Order-insensitive digest of a query's full output. Every row and column
  * is produced (the plan's own sort included) and folded into a row count
  * plus two 32-bit lane sums of each row's xxhash64, so equal outputs in
  * any row order give equal digests. The schema's names and types are
  * part of the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.columns.length
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val lanes = named.select(xxhash64(cols: _*)).as[Long].mapPartitions { it =>
      var c = 0L; var lo = 0L; var hi = 0L
      it.foreach { h => c += 1; lo += h & 0xffffffffL; hi += h >>> 32 }
      Iterator.single((c, lo, hi))
    }.collect()
    val (c, lo, hi) = lanes.foldLeft((0L, 0L, 0L)) {
      case ((a, b, d), (x, y, z)) => (a + x, b + y, d + z)
    }
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    f"$c:$hi%x:$lo%x:${schema.hashCode}%08x"
  }

  // hash expressions refuse maps; entries sorted by key hash the same
  // whatever order the map was built in
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}

/** The Spark batch workload: a fixed list of `SparkEntry.queries`, run
  * closed loop by one client in an order the seed permutes. */
object SparkQueries {
  /** The stateless analytics path, one query per operator family (the
    * ROADMAP's q25 among them), plus the dedup archive's takedown
    * lifecycle q96, which keeps the streaming layer measured. Each query
    * maps to the per-layer family its main operator belongs to. */
  val Family: Map[String, String] = Map(
    "q07_sessionize" -> "operators.relational", "q13_knn_batch" -> "operators.knn",
    "q71_pii_redact" -> "operators.text", "q57_semantic_chunks" -> "operators.chunking",
    "q25_jaccard_pairs" -> "operators.dedup", "q52_bm25" -> "operators.rag_ir",
    "q96_dedup_archive_forget" -> "streaming.forget")

  /** Queries with their own per-layer wall and job counts. */
  val Traced: Seq[String] = Seq("q25_jaccard_pairs", "q96_dedup_archive_forget")

  private final case class Exec(query: String, wall: Double, startMs: Long, endMs: Long,
                                bytesAfter: Long, filesAfter: Long)

  private def inputBytes(data: String): Long =
    graft.Tables.all.map(t => new File(s"$data/$t.parquet").length()).sum

  def readExpected(path: String): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  def run(a: Main.Args, spans: Spans): Main.Outcome = {
    val out = new Main.Outcome
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val expected = readExpected(a.expected)
    val fns = graft.SparkEntry.queries
    Family.keys.foreach(q => require(fns.contains(q) && expected.contains(q), s"no query or digest for $q"))

    // set-up: a session of the engine reading the inputs' schemas
    val (setupS, spark, _) = Session.setUp(a.work) { s =>
      graft.Tables.all.foreach(t => graft.Tables(s, a.data, t).schema)
    }
    out.metrics("setup_s") = setupS
    val order = Main.shuffled(Family.keys.toSeq.sorted, a.seed)
    val inBytes = inputBytes(a.data).toDouble

    def pass(label: String): Seq[Exec] = {
      Session.wipe(tmp)
      val t0 = System.nanoTime()
      val execs = order.map { q =>
        spark.sparkContext.setJobGroup(q, s"$label $q")
        val s0 = System.nanoTime()
        val m0 = System.currentTimeMillis()
        out.attempted += 1
        try {
          val got = Digest.of(fns(q)(spark, a.data))
          if (got != expected(q)) out.fail(s"$q output digest $got != expected ${expected(q)}")
        } catch {
          case e: Exception => out.fail(s"$q threw ${e.getClass.getName}: ${e.getMessage}")
        }
        val s1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        spans.add("query", s0, s1, label, q)
        val (b, n) = Session.du(tmp)
        Exec(q, (s1 - s0) / 1e9, m0, m1, b, n)
      }
      spans.add("pass", t0, System.nanoTime(), "", label)
      Main.note(s"$label " + execs.map(e => f"${e.query.take(3)}=${e.wall}%.2f").mkString(" "))
      execs
    }

    def summary(p: Seq[Exec]) = (p.map(_.wall).sum, Main.median(p.map(_.wall)))

    // first executions: code generation and JIT; outputs checked too
    pass("warmup")
    val timed = pass("timed")
    val (passS, p50) = summary(timed)
    out.metrics("pass_s") = passS
    out.metrics("op_p50_s") = p50

    // traced: one more pass with the probes attached, then one without;
    // the overhead compares it with the mean of the untraced passes on
    // either side, which cancels the warming between passes
    val layers = if (a.trace) Some(new SparkLayers(spark, Session.cores).attach()) else None
    val jvm = new JvmLayers
    jvm.start()
    val traced = if (a.trace) pass("traced") else Nil
    val jvmM = jvm.stop()
    layers.foreach(_.detach())
    val after = if (a.trace) pass("untraced-after") else Nil
    layers.foreach { layers =>
      layers.totals(Seq((traced.head.startMs, traced.last.endMs))).foreach { case (m, v) => out.metrics(m) = v }
      out.metrics ++= jvmM
      out.metrics("trace.overhead_pass_s") = summary(traced)._1 - (passS + summary(after)._1) / 2
      out.metrics("trace.overhead_op_p50_s") = summary(traced)._2 - (p50 + summary(after)._2) / 2
      traced.groupBy(e => Family(e.query)).foreach { case (fam, es) =>
        out.metrics(s"$fam.wall_s") = es.map(_.wall).sum
        out.metrics(s"$fam.jobs") = es.map(e => layers.jobsIn(e.startMs, e.endMs)).sum
      }
      traced.filter(e => Traced.contains(e.query)).foreach { e =>
        out.metrics(s"query.${e.query}.wall_s") = e.wall
        out.metrics(s"query.${e.query}.jobs") = layers.jobsIn(e.startMs, e.endMs)
      }
      // bytes and files each query left under the run's temp directory
      val (grownB, grownN, _, _) = traced.foldLeft((0L, 0L, 0L, 0L)) { case ((b, n, pb, pn), e) =>
        (b + math.max(0L, e.bytesAfter - pb), n + math.max(0L, e.filesAfter - pn), e.bytesAfter, e.filesAfter)
      }
      out.metrics("streaming.bytes_written") = grownB.toDouble
      out.metrics("streaming.files_written") = grownN.toDouble
      out.metrics("archive.bytes_stored_per_input_byte") = traced.last.bytesAfter / inBytes
    }
    Session.wipe(tmp)
    spark.stop()
    out
  }

  /** Digests of every `SparkEntry.queries` output over the run's inputs,
    * written as JSON to `--spans`. With `--expected <dir>` naming a
    * correctness dump (graft.Verify) of the same inputs, each digest is
    * also taken from the dumped parquet and must match, so the recorded
    * digests are those of oracle-checked outputs. */
  def writeDigests(a: Main.Args): Unit = {
    val spark = Session.start(a.work)
    val verified = new File(a.expected)
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, fn) =>
      val live = Digest.of(fn(spark, a.data))
      val dumped = new File(verified, q)
      if (!dumped.isDirectory) { System.err.println(s"digests: $q has no dump"); None }
      else {
        val fromDump = Digest.of(spark.read.parquet(dumped.getPath))
        if (fromDump != live) { System.err.println(s"digests: $q live $live != dump $fromDump"); None }
        else Some(s"""  "$q": "$live"""")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.spans), lines.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
