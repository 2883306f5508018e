package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** What both routing registries ([[IndexRouting]], [[AnnRouting]]) and
  * their rules share: the registry key of a path and of a scan, and fresh
  * instances of the index plans they cache. */
private[plans] object Routing {

  /** Registry key of a path: qualified, so a register/maintenance spelling
    * difference ("file:/p" vs "/p", trailing slash) still meets. */
  def qualify(spark: SparkSession, p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(path).toString
  }

  /** Registry key of a scan: the single root of a file relation, with a
    * committed generation dir mapped back to its index path
    * ([[graft.index.Commit.indexPathOf]]) — a table registered as its own
    * base keeps routing when it is read through its live generation. */
  def basePathOf(p: LogicalPlan): Option[String] = p match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.toList match {
        case root :: Nil => Some(graft.index.Commit.indexPathOf(root.toString))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** A FRESH instance of a cached analyzed index plan, output attributes
    * re-aliased (ADVICE r9): the cached plan is injected once per rewrite,
    * and a query that routes the same index twice (a self-join or union of
    * routed plans, the MVA AND cascade, a facet plus a filter) must not
    * carry duplicate exprIds across sibling subtrees — downstream rules
    * that resolve by exprId would misbind. */
  def fresh(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MultiInstanceRelation => m.newInstance().asInstanceOf[LogicalPlan]
    case p => p
  }
}
