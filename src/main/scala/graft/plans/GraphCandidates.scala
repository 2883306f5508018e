package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, IntegerLiteral, NamedExpression, Predicate, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Limit, LogicalPlan, Project, ReturnAnswer, Sort, Statistics}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, LeafExecNode, ProjectExec, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

/** The graph family's routed-candidate leaf (K4 beyond IVF, VERDICT r9
  * #4): [[AnnRoutingRule]] swaps a registered base-table scan under an
  * `ORDER BY dist LIMIT k` for this node, which produces the top-k
  * (id, vector) rows of the routed walk
  * ([[graft.vector.Hnsw.searchRoutedRaw]] and its code-space form) — the
  * centroid-ordered, triangle-bounded walk over the clustered sub-graphs.
  * The ORIGINAL Sort/Limit stays above and recomputes exact distances
  * from the carried vectors, so the routed plan's results are
  * identical to the explicit API's (and to the fullscan at full ef) —
  * the same leaf-swap contract as the IVF route.
  *
  * The routed walk is a driver-orchestrated probe loop (bounds decide
  * which sub-graphs the second walk job covers), which no static
  * DataFrame composition can express — hence a custom leaf + strategy
  * (the sanctioned (c) tier: LogicalPlan + SparkStrategy + SparkPlan),
  * not a mapPartitions bolt-on. The leaf's rows are computed on the
  * driver ([[GraphCandidatesExec.rows]]: the walk schedules at most two
  * jobs over the RESIDENT graph RDD — zero tasks for unprobed
  * sub-graphs); plan time touches no data. At the root of a query
  * (`collect` of `ORDER BY … LIMIT k` over Project/Filter nodes) the
  * strategy plans [[GraphTopKExec]], which evaluates those nodes and
  * takes the top-k on the driver — the whole search is one SQL execution
  * with no job beyond the walk, fetch and id jobs. Any other use (a
  * join, `.count()`, a write) runs the leaf as a one-partition RDD.
  *
  * FILTERED route (K3 automatic, the reference host's flow: it builds the
  * allowed-rowid bitmap from the query's other filters and hands it to the
  * KNN iterator's callback, knn/knn.h:87-94): when [[AnnRoutingRule]]
  * consumes an attribute `Filter`, the leaf carries the condition as SQL
  * (`filterSql`) plus the base-table path. The leaf runs ONE column-pruned
  * id job over `read(base).filter(cond).select(id)` — never reading the
  * vector column — keeping at most maxIds+1 ids per partition and on the
  * driver. Within budget the ids sort into a primitive array (8
  * bytes/id, the JVM analog of the reference's bitmap), broadcast, and
  * gate the beam walk through a binary-search callback. The plan-time
  * estimate (`GraphFamily.maxFilterIds`) is uniform-assumption, so a
  * skewed hot value can blow it: the cap detects that at execution and
  * the leaf falls back to the exact DISTRIBUTED filtered top-k (an RDD
  * takeOrdered — deliberately NOT a Dataset orderBy/limit, which is the
  * very shape the routing rule would re-route into this leaf, recursing
  * unboundedly).
  *
  * `quantized = true` marks a CODE-space graph: the same walk call returns
  * its k·`refine` coarse survivor ids (the
  * [[graft.vector.Hnsw.searchQuantizedCoarse]] contract), the leaf fetches
  * their RAW vectors from the base table (one job over the column-pruned
  * (id, vector) scan, keeping the survivors — the index stores codes,
  * floats are never resident), and the untouched Sort/Limit above
  * performs the exact rescore — the same k·refine serving contract as the
  * explicit `searchQuantized` and the quant-table splices.
  *
  * `output` reuses the base relation's attributes verbatim (same exprIds),
  * so every upstream expression rebinds without aliasing. */
final case class GraphCandidates(indexPath: String, idName: String,
                                 vecName: String, query: Seq[Float],
                                 k: Int, ef: Int,
                                 output: Seq[Attribute],
                                 basePath: Option[String] = None,
                                 filterSql: Option[String] = None,
                                 maxIds: Long = Long.MaxValue,
                                 adaptive: Boolean = false,
                                 quantized: Boolean = false,
                                 refine: Int = 8,
                                 hier: Boolean = false,
                                 hierMin: Int = -1) extends LeafNode {
  // No `maxRows` override: a bound of k would let Catalyst's EliminateLimits
  // drop the top-k Limit above this leaf, turning the top-k (GraphTopKExec
  // or TakeOrderedAndProject) into a global Sort with a range-partitioning Exchange (three extra jobs
  // per search under AQE). The size hint alone keeps broadcasts sized.
  override def computeStats(): Statistics = {
    val rows = if (quantized) k.toLong * refine else k.toLong
    Statistics(sizeInBytes = math.max(1L, rows * 4L * (query.size + 2)))
  }
}

object GraphCandidates {
  /** Executions that took the over-budget exact distributed fallback —
    * spec instrumentation only. */
  val fallbackCount = new java.util.concurrent.atomic.AtomicLong(0L)
}

final case class GraphCandidatesExec(node: GraphCandidates)
    extends LeafExecNode {

  override def output: Seq[Attribute] = node.output

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows().toSeq, 1)

  /** The leaf's rows, computed on the driver: the routed walk plus, for a
    * consumed filter, the id job and, for a code graph, the raw-vector
    * fetch job. */
  def rows(): Array[InternalRow] = {
    val spark = org.apache.spark.sql.SparkSession.active
    import org.apache.spark.sql.functions.{col, expr}
    // K3: the consumed filter re-evaluates as a column-pruned job over
    // (id, filter columns) — never the vectors. NULL ids are dropped, not
    // NPE'd: such rows cannot be graph nodes anyway (review r10-2).
    val filteredBase = node.filterSql.map { sql =>
      graft.engine.Graft.cachedRead(spark, node.basePath.get)
        .filter(expr(sql))
        .filter(col(node.idName).isNotNull)
    }
    // The plan-time estimate gates the route, but only the ACTUAL
    // cardinality bounds the broadcast: a uniform ndv estimate can be
    // arbitrarily low under value skew (review r10-3). ONE id job decides,
    // each task and the driver keeping at most maxIds+1 ids (bounded
    // driver memory, no separate count pass): within budget the ids ARE
    // the broadcast set; over budget → the exact DISTRIBUTED filtered
    // top-k (never a huge driver collect) — identical rows through the
    // Sort above, just without the graph walk's probe economy.
    val overLimit =
      (math.min(node.maxIds, Int.MaxValue.toLong - 2L) + 1L).toInt
    val idsOpt = filteredBase.map { fdf =>
      val ids = new scala.collection.mutable.ArrayBuilder.ofLong
      spark.sparkContext.runJob(
        fdf.select(col(node.idName)).queryExecution.toRdd,
        (it: Iterator[InternalRow]) => it.map(_.getLong(0)).take(overLimit).toArray,
        (_: Int, part: Array[Long]) => ids ++= part.take(overLimit - ids.length))
      ids.result()
    }
    val rows: Array[(Long, Double, Array[Float])] = idsOpt match {
      case Some(ids) if ids.length >= overLimit =>
        GraphCandidates.fallbackCount.incrementAndGet()
        val metric = graft.vector.Hnsw.indexMetric(spark, node.indexPath)
        val qB = spark.sparkContext.broadcast(node.query.toArray)
        // RDD takeOrdered, NOT a Dataset orderBy(dist).limit(k): that
        // Dataset query is the exact shape the routing rule matches, so
        // it would route back into a fresh GraphCandidates leaf and
        // recurse without bound (review r10-3 hang). The RDD path cannot
        // re-enter the optimizer; scalarDist orders identically to the
        // sort key (sqrt/1-cos are monotone) and the Sort above
        // recomputes the exact distances anyway. NULL vectors are
        // excluded exactly as the walk excludes them (not graph nodes).
        try {
          filteredBase.get
            .filter(col(node.vecName).isNotNull)
            .select(col(node.idName), col(node.vecName)).rdd
            .map { r =>
              val v = r.getSeq[Float](1).toArray
              (graft.vector.Ivf.scalarDist(metric, qB.value, v),
                r.getLong(0), v)
            }
            .takeOrdered(node.k)(
              Ordering.by((t: (Double, Long, Array[Float])) => (t._1, t._2)))
            .map { case (d, id, v) => (id, d, v) }
        } finally qB.destroy()
      case _ =>
        val allowedB = idsOpt.map { ids =>
          java.util.Arrays.sort(ids)
          spark.sparkContext.broadcast(ids)
        }
        val allowed = allowedB.map { b =>
          (id: Long) => java.util.Arrays.binarySearch(b.value, id) >= 0
        }
        try {
          // ONE routed walk over whichever node space the index holds
          // (flat or hierarchy entry per the registration)
          val walked = graft.vector.Hnsw.walkRouted(spark, node.indexPath,
            node.query.toArray, node.k, node.ef, node.refine,
            allowed = allowed, adaptive = node.adaptive, hier = node.hier,
            hierMin = node.hierMin)._1
          if (!node.quantized) walked
          else if (walked.isEmpty) Array.empty[(Long, Double, Array[Float])]
          else {
            // a code graph returns k·refine coarse survivor ids without
            // vectors → ONE job over the column-pruned (id, vector) scan
            // keeps the survivors, in scan order. An id-IN filter would
            // prune nothing: past 10 values Parquet pushes it down only as
            // the [min, max] range, which k·refine survivors span.
            val want = walked.map(_._1).sorted
            graft.engine.Graft.cachedRead(spark, node.basePath.get)
              .select(col(node.idName), col(node.vecName)).queryExecution.toRdd
              .filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
                java.util.Arrays.binarySearch(want, r.getLong(0)) >= 0)
              .map(r => (r.getLong(0), 0.0, r.getArray(1).toFloatArray()))
              .collect()
          }
        }
        // the walk is fully driver-orchestrated, so the broadcast is dead
        // once it returns — free the up-to-maxIds*8 bytes instead of
        // leaving them to the ContextCleaner (review r10-2)
        finally allowedB.foreach(_.destroy())
    }
    // direct projection by column name — no per-row Map indirection
    // (review r18-9): up to k·refine rows each allocated a Map + closure
    // only to be matched back out by the two known keys
    val names = node.output.map(_.name)
    val proj = UnsafeProjection.create(schema)
    rows.map { case (id, _, vec) =>
      proj(InternalRow.fromSeq(names.map {
        case n if n == node.idName => id
        case n if n == node.vecName =>
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(vec)
        // unreferenced base columns (the route refuses otherwise): null
        case _ => null
      })).copy()
    }
  }
}

/** The top-k of a routed graph search at the root of a query, taken on
  * the driver: `executeCollect` takes the leaf's rows, evaluates the
  * Project/Filter nodes between them and the sort there, and picks the
  * top `limit` with the `LazilyGeneratedOrdering` + `Utils.takeOrdered`
  * that `TakeOrderedAndProjectExec` applies to the leaf's one partition
  * (`RDD.takeOrdered` selects each partition's top with
  * `Utils.takeOrdered` and merges the partitions' arrays; over one
  * partition that selection is the answer) — the same rows in the same
  * order, ties included, without the job that would re-sort rows the
  * driver already holds. Every other execution
  * (`execute()`: `.rdd`, caching) and any child shape the driver cannot
  * evaluate runs the `TakeOrderedAndProjectExec` the built-in planner
  * would have picked. */
final case class GraphTopKExec(limit: Int, sortOrder: Seq[SortOrder],
                               projectList: Seq[NamedExpression],
                               child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  @transient private lazy val planned =
    TakeOrderedAndProjectExec(limit, sortOrder, projectList, child)

  override protected def doExecute(): RDD[InternalRow] = planned.execute()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    driverRows(child) match {
      case Some(rows) =>
        val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
        val top = Bridge.takeOrdered(rows.iterator, limit)(ord).toArray
        if (projectList == child.output) top
        else project(projectList, child.output, top)
      case None => planned.executeCollect()
    }
  }

  /** The child's rows evaluated on the driver, as its one-partition
    * ProjectExec/FilterExec chain would produce them; None (before any
    * work) when the chain holds another node or a subquery. */
  private def driverRows(p: SparkPlan): Option[Array[InternalRow]] = p match {
    case _ if p.subqueries.nonEmpty => None
    case g: GraphCandidatesExec => Some(g.rows())
    case _: WholeStageCodegenExec | _: InputAdapter => driverRows(p.children.head)
    case ProjectExec(list, c) => driverRows(c).map(project(list, c.output, _))
    case FilterExec(cond, c) => driverRows(c).map { rows =>
      val pred = Predicate.create(cond, c.output)
      pred.initialize(0)
      rows.filter(pred.eval)
    }
    case _ => None
  }

  private def project(list: Seq[NamedExpression], input: Seq[Attribute],
                      rows: Array[InternalRow]): Array[InternalRow] = {
    val proj = UnsafeProjection.create(list, input)
    proj.initialize(0)
    rows.map(r => proj(r).copy())
  }

  override protected def withNewChildInternal(c: SparkPlan): GraphTopKExec =
    copy(child = c)
}

/** Plans [[GraphCandidates]] → [[GraphCandidatesExec]], and the query-root
  * `LIMIT k` over `[Project] Sort` over Project/Filter nodes over one →
  * [[GraphTopKExec]] (the shapes, and the fallback threshold, of the
  * built-in planner's `TakeOrderedAndProjectExec`); injected by
  * [[GraftExtensions]]. */
class GraphCandidatesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GraphCandidates => GraphCandidatesExec(g) :: Nil
    case ReturnAnswer(Limit(IntegerLiteral(n), Sort(order, true, c, _)))
        if topK(n, c) => GraphTopKExec(n, order, c.output, planLater(c)) :: Nil
    case ReturnAnswer(Limit(IntegerLiteral(n),
        Project(list, Sort(order, true, c, _)))) if topK(n, c) =>
      GraphTopKExec(n, order, list, planLater(c)) :: Nil
    case _ => Nil
  }

  private def topK(n: Int, child: LogicalPlan): Boolean =
    n < SQLConf.get.topKSortFallbackThreshold && overLeaf(child)

  @scala.annotation.tailrec
  private def overLeaf(p: LogicalPlan): Boolean = p match {
    case _: GraphCandidates => true
    case Project(_, c) => overLeaf(c)
    case Filter(_, c) => overLeaf(c)
    case _ => false
  }
}
