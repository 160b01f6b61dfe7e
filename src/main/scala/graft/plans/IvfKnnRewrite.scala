package graft.plans

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The deferred SURVEY §4 rewrite: route a [[KnnJoin]] over an
 * IVF-indexed table through the index instead of the exhaustive scan.
 *
 * Opt-in by design — an ANN index trades recall for speed, exactly like
 * the reference's pgvector/FAISS indexes change results once created
 * (day_9/database/vector_ops.py:62-92): register a table's index with
 * [[AnnIndexRegistry.register]] and inject the rule
 * (`GraftExtensions` does NOT add it by default).
 *
 * The rewrite replaces the KnnJoin node with a fully declarative plan:
 *   queries × broadcast(centroids) → per-query nprobe nearest cells
 *   → equi-join cluster-partitioned assignments (partition-pruned scan)
 *   → score → windowed top-k
 * and re-aliases the result to the original node's output exprIds so
 * every parent reference survives.
 */
object AnnIndexRegistry {
  case class Entry(indexPath: String, nprobe: Int)
  private val byPath = scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** Register an IVF index (built by AnnIndex.writeIndex) for a parquet
    * docs table identified by its root path. */
  def register(docsPath: String, indexPath: String, nprobe: Int): Unit =
    byPath.put(normalize(docsPath), Entry(indexPath, nprobe))

  def lookup(path: String): Option[Entry] = byPath.get(normalize(path))
  def clear(): Unit = byPath.clear()

  private def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")
}

object IvfKnnRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case kj @ KnnJoin(queries, docs, k, metric, exSelf, output) =>
      indexFor(docs) match {
        case Some(entry) =>
          val spark = SparkSession.active
          val rewritten = ivfPlan(spark, queries, entry, k, metric, exSelf)
          // re-alias to the original output attribute ids
          val aliases = rewritten.output.zip(output).map { case (newAttr, origAttr) =>
            Alias(newAttr, origAttr.name)(exprId = origAttr.exprId)
          }
          Project(aliases, rewritten)
        case None => kj
      }
  }

  /** The docs side qualifies ONLY when it is the bare parquet relation over
    * a registered path, possibly under shape-only Projects (attributes /
    * casts of attributes — the shape `knnJoin` itself inserts). Anything
    * else — a Filter, a computed projection, a join — would be silently
    * dropped by the rewrite (the index scan replaces the whole subtree), so
    * we bail out and keep the exact KnnJoin node instead. A cached docs
    * table (InMemoryRelation) also bails out — conservative: the exact
    * kernel still answers the query, just without the index. */
  private def indexFor(docs: LogicalPlan): Option[AnnIndexRegistry.Entry] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, NamedExpression}
    def shapeOnly(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = e match {
      case _: AttributeReference => true
      case a: Alias => shapeOnly(a.child)
      case c: Cast => shapeOnly(c.child)
      case _ => false
    }
    def bareRelation(p: LogicalPlan): Option[LogicalRelation] = p match {
      case lr: LogicalRelation => Some(lr)
      case Project(projectList, child) if projectList.forall(shapeOnly) =>
        bareRelation(child)
      case _ => None
    }
    bareRelation(docs).flatMap {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.headOption
          .flatMap(p => AnnIndexRegistry.lookup(p.toString))
      case _ => None
    }
  }

  private def ivfPlan(spark: SparkSession, queries: LogicalPlan,
                      entry: AnnIndexRegistry.Entry, k: Int,
                      metric: graft.operators.KnnSearch.Metric,
                      exSelf: Boolean): LogicalPlan = {
    val qDf = GraftColumnBridge.ofRows(spark, queries)
      .toDF("query_id", "qvec")
    val centroids = spark.read.schema(graft.operators.AnnIndex.CentroidsSchema)
      .parquet(s"${entry.indexPath}/centroids")
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("__cdist").asc, col("cluster").asc)
    val probes = qDf.crossJoin(broadcast(centroids))
      .withColumn("__cdist", l2Distance(col("qvec"), col("centroid")))
      .withColumn("__crank", row_number().over(probeW))
      .where(col("__crank") <= entry.nprobe)
      .select(col("query_id"), col("cluster"), col("qvec"))
    val assignments = spark.read.schema(graft.operators.AnnIndex.AssignmentsSchema)
      .parquet(s"${entry.indexPath}/assignments")
    val scored = assignments.join(broadcast(probes), Seq("cluster"))
      .select(col("query_id"), col("id").as("doc_id"),
        metric.column(col("qvec"), col("vec")).as("score"))
    val filtered = if (exSelf) scored.where(col("query_id") =!= col("doc_id")) else scored
    val w = Window.partitionBy(col("query_id")).orderBy(
      if (metric.descending) col("score").desc else col("score").asc, col("doc_id").asc)
    val result = filtered
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
    // splice the OPTIMIZED subplan: extra optimizer rules run after the
    // built-in batches, so an analyzed subtree would smuggle constructs the
    // planner no longer accepts (e.g. ResolvedHint from broadcast())
    result.queryExecution.optimizedPlan
  }
}
