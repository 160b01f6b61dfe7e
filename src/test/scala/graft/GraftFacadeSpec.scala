package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftFacadeSpec extends AnyFunSuite {

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
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // code only: comments dropped (block comments keep their newlines, so
    // line numbers hold), string and char literals kept verbatim
    def code(src: String): Seq[String] = {
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
      out.toString.split("\n", -1).toSeq
    }
    val files: Seq[Path] = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files")
    def offenders(pattern: scala.util.matching.Regex): Seq[String] =
      files.flatMap { f =>
        code(new String(Files.readAllBytes(f), "UTF-8")).zipWithIndex.collect {
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
}
