package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftFacadeSpec extends AnyFunSuite {

  // code only: comments dropped (block comments keep their newlines, so
  // line numbers hold), string and char literals kept verbatim
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0                // nested block-comment depth
    var quote: String = null     // open string delimiter
    def at(t: String) = src.startsWith(t, i)
    def keep(n: Int): Unit = { out ++= src.slice(i, i + n); i += n }
    while (i < src.length) {
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (quote != null) {
        if (quote == "\"" && at("\\")) keep(2)
        else if (at(quote)) { keep(quote.length); quote = null }
        else keep(1)
      } else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("/*")) { depth = 1; i += 2 }
      else if (at("\"\"\"")) { quote = "\"\"\""; keep(3) }
      else if (at("\"")) { quote = "\""; keep(1) }
      else if (at("'\\")) keep(4)
      else if (at("'") && src.startsWith("'", i + 2)) keep(3)
      else keep(1)
    }
    out.toString
  }

  /** (path, code) of every main source file. */
  private lazy val sources: Seq[(String, String)] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files")
    files.map(f => f.toString -> code(new String(Files.readAllBytes(f), "UTF-8")))
  }

  test("facade installs SQL functions and the knn strategy on the shared session") {
    // getOrCreate returns the shared test session; the facade must still
    // leave it fully armed (idempotent registration path)
    val spark = Graft.session("local[4]", 4)
    val v = spark.sql("SELECT cosine_similarity(array(1.0f,0.0f), array(1.0f,0.0f)) AS c")
      .head().getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
    assert(spark.experimental.extraStrategies.contains(graft.plans.KnnJoinStrategy))
  }

  test("Graft.session is the one session factory: AQE, UTC, nanosAsLong, Kryo, vector rule, no UI; no other builder or switch") {
    val spark = Graft.session("local[4]", 4)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.getConf.get("spark.serializer") ===
      "org.apache.spark.serializer.KryoSerializer")
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      spark.experimental.extraOptimizations
    assert(rules.contains(graft.plans.VectorSimplification))
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the web UI is on")

    // …and it is the only session factory: no main builds its own
    // session or reads a graft.* property / GRAFT_* env switch
    def offenders(pattern: scala.util.matching.Regex): Seq[String] =
      sources.flatMap { case (f, text) =>
        text.split("\n", -1).toSeq.zipWithIndex.collect {
          case (l, i) if pattern.findFirstIn(l).nonEmpty => s"$f:${i + 1}: ${l.trim}"
        }
      }
    val isGraft = (s: String) => s.startsWith("src/main/scala/graft/Graft.scala")
    val builders = offenders("""SparkSession\.builder\(""".r)
    assert(builders.nonEmpty && builders.forall(isGraft), builders.mkString("\n"))
    val cpus = offenders("\"SPARK_GRAFT_CPUS\"".r)
    assert(cpus.size === 1 && cpus.forall(isGraft), cpus.mkString("\n"))
    val props = offenders("""(sys\.props|System\.getProperty)[^"]*"graft\.""".r)
    assert(props.isEmpty, props.mkString("\n"))
    val envs = offenders("""(sys\.env|System\.getenv)[^"]*"GRAFT_""".r)
    assert(envs.isEmpty, envs.mkString("\n"))
  }

  test("every parquet read in src/main passes a schema, except the reads of caller-supplied layouts") {
    // a reader chain: `.read` followed by `.name(args)` / `.name` links
    final case class Read(site: String, at: String, methods: Seq[String], args: Seq[String]) {
      def isParquet: Boolean = methods.lastOption.contains("parquet") ||
        (methods.lastOption.contains("load") &&
          methods.zip(args).contains("format" -> "\"parquet\""))
    }
    def chains(file: String, text: String): Seq[Read] =
      """\.read\b""".r.findAllMatchIn(text).map { m =>
        var i = m.end
        def skipWs(): Unit = while (i < text.length && text(i).isWhitespace) i += 1
        // balanced parens from text(i) == '(' (string literals skipped)
        def skipArgs(): String = {
          val from = i
          var depth = 0
          do {
            if (text.startsWith("\"\"\"", i)) i = text.indexOf("\"\"\"", i + 3) + 2
            else if (text(i) == '"') {
              i += 1
              while (text(i) != '"') i += (if (text(i) == '\\') 2 else 1)
            } else if (text(i) == '(') depth += 1
            else if (text(i) == ')') depth -= 1
            i += 1
          } while (depth > 0)
          text.substring(from + 1, i - 1).trim
        }
        val methods, args = Seq.newBuilder[String]
        var done = false
        while (!done) {
          skipWs()
          val name = """\.\s*(\w+)""".r.findPrefixMatchOf(text.substring(i, math.min(text.length, i + 80)))
          name match {
            case Some(n) =>
              i += n.end
              methods += n.group(1)
              skipWs()
              args += (if (i < text.length && text(i) == '(') skipArgs() else "")
              if (n.group(1) == "parquet" || n.group(1) == "load") done = true
            case None => done = true
          }
        }
        val before = text.substring(0, m.start)
        val fn = """\bdef\s+(\w+)""".r.findAllMatchIn(before).map(_.group(1)).toSeq.lastOption
        Read(s"${java.nio.file.Paths.get(file).getFileName}#${fn.getOrElse("?")}",
          s"$file:${before.count(_ == '\n') + 1}", methods.result(), args.result())
      }.toSeq
    val reads = sources.flatMap { case (f, text) => chains(f, text) }.filter(_.isParquet)
    // the layout of these is the caller's: events files in either ts
    // layout, and a collection whose columns the caller chose
    val callerLayout = Set("EventStream.scala#readEvents", "EventStream.scala#normalizedBatch",
      "EventStream.scala#upsertSink", "CollectionStore.scala#read")
    val (pinned, inferred) = reads.partition(_.methods.contains("schema"))
    val offenders = inferred.filterNot(r => callerLayout(r.site))
    if (offenders.nonEmpty) fail("schema-less parquet reads:\n" +
      offenders.map(r => s"${r.at} (${r.site}): .read.${r.methods.mkString(".")}").mkString("\n"))
    assert(pinned.size > 20, s"the scan found only ${pinned.size} pinned parquet reads")
    // the allow-list names live sites only
    assert(inferred.map(_.site).toSet === callerLayout)
  }

  test("the mains in src/main are exactly the entry points and the shared harness") {
    // one-off measurement mains do not come back: a scale number lives in
    // BENCH.md, a bound in a spec, a measuring path in perfbench/ or Bench
    val allowed = Set("Verify", "Bench", "Demo", "tools.QueryJobs",
      "tools.PlanDumpFmt", "tools.ScaleUp", "tools.JaccardScaleGate")
    val mains = sources.flatMap { case (_, text) =>
      val pkg = """\bpackage\s+([\w.]+)""".r.findFirstMatchIn(text)
        .map(_.group(1).stripPrefix("graft").stripPrefix(".")).getOrElse("")
      """\bdef\s+main\s*\(|\bextends\s+App\b""".r.findAllMatchIn(text).map { m =>
        val obj = """\bobject\s+(\w+)""".r.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("?")
        if (pkg.isEmpty) obj else s"$pkg.$obj"
      }
    }
    assert(mains.size === mains.toSet.size, s"a main is defined twice: $mains")
    assert(mains.toSet === allowed,
      s"unexpected mains: ${mains.toSet -- allowed}; missing: ${allowed -- mains.toSet}")
  }
}
