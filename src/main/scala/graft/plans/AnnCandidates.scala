package graft.plans

import graft.engine.Graft
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, GenericInternalRow, IntegerLiteral, JoinedRow, Literal, NamedExpression, Predicate, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LeafNode, Limit, LogicalPlan, Project, ReturnAnswer, Sort, Statistics}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, LeafExecNode, ProjectExec, SQLExecution, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType}

/** Where an [[AnnCandidates]] leaf's rows come from. */
sealed trait CandidateSource

/** The routed walk over a clustered graph
  * ([[graft.vector.Hnsw.walkRouted]]): the centroid-ordered,
  * triangle-bounded walk over the sub-graphs of the index at `indexPath`,
  * with the base table at `basePath` read for a consumed filter's ids and
  * a code graph's raw vectors. `maxIds` bounds a consumed filter's ids
  * (the broadcast budget); the other fields are the registration's walk
  * contract ([[AnnRouting.GraphFamily]]). `quantized` marks a CODE-space
  * graph, whose walk returns its k·`refine` coarse survivor ids. */
final case class GraphWalk(indexPath: String, basePath: String, ef: Int,
                           maxIds: Long = Long.MaxValue,
                           adaptive: Boolean = false,
                           quantized: Boolean = false, refine: Int = 8,
                           hier: Boolean = false,
                           hierMin: Int = -1) extends CandidateSource

/** The coarse screen of a coded table at `tablePath` (a flat codec's or
  * IVF-ADC's, [[graft.vector.Quantize.Screen]]): its top k·`refine` rows
  * by (code distance, id), each with the columns `read` — the leaf's
  * output columns the plan references or that cannot be null. */
final case class CodeScreen(tablePath: String,
                            screen: graft.vector.Quantize.Screen,
                            refine: Int, read: Seq[String])
    extends CandidateSource

/** The routed-candidate leaf of every family but the plain IVF leaf swap
  * (K4 beyond IVF, VERDICT r9 #4): [[AnnRoutingRule]] swaps a registered
  * base-table scan under an `ORDER BY dist LIMIT k` for this node. It
  * produces the candidates of its [[CandidateSource]] — a graph walk's
  * top-k (id, vector) rows (a code graph's k·refine, their raw vectors
  * fetched from the base table), or a code screen's top k·refine rows.
  * The ORIGINAL Sort/Limit stays above and recomputes exact distances
  * from the carried vectors, so the routed plan's results are identical
  * to the explicit APIs' ([[graft.vector.Hnsw.searchRoutedRaw]],
  * [[graft.vector.Quantize.searchRescore]], [[graft.vector.Ivf.searchPq]])
  * — the same leaf-swap contract as the IVF route.
  *
  * The routed walk is a driver-orchestrated probe loop (bounds decide
  * which sub-graphs the second walk job covers), which no static
  * DataFrame composition can express — hence a custom leaf + strategy
  * (the sanctioned (c) tier: LogicalPlan + SparkStrategy + SparkPlan),
  * not a mapPartitions bolt-on. The leaf's rows are computed on the
  * driver ([[GraphCandidatesExec.rows]]): a walk schedules at most two
  * jobs over the RESIDENT graph RDD (zero tasks for unprobed sub-graphs),
  * a screen ONE job over the coded table that keeps each task's top
  * k·refine rows whole (the reference answers a quantized top-k inside
  * one index iterator, knn/knn.cpp:105-135) — or, past a result budget,
  * only their ranks and a second job for the survivors' rows. Every scan
  * the leaf runs is a [[graft.engine.Graft.cachedScan]], planned once per
  * live table, except an IVF-ADC screen that probes fewer than every
  * list: its probe pushdown is per query, so its scan is planned per
  * search ([[graft.engine.Graft.prunedScan]]). Plan time touches no data. At the root of a query (`collect` of
  * `ORDER BY … LIMIT k` over Project/Filter nodes) the strategy plans
  * [[GraphTopKExec]], which evaluates those nodes and takes the top-k on
  * the driver — the whole search is one SQL execution with no job beyond
  * the leaf's. Any other use (a join, `.count()`, a write) runs the leaf
  * as a one-partition RDD.
  *
  * FILTERED route (K3 automatic, the reference host's flow: it builds the
  * allowed-rowid bitmap from the query's other filters and hands it to the
  * KNN iterator's callback, knn/knn.h:87-94): when [[AnnRoutingRule]]
  * consumes an attribute `Filter`, the leaf carries its condition
  * (`filter`, over the leaf's output attributes; the scans' tasks
  * evaluate it, bound by column name). A screen scores only the rows
  * passing it, so its survivors come from the filtered corpus; the Filter
  * nodes above stay and re-verify. A walk runs ONE column-pruned id job
  * over the base rows passing it — never reading the vector column —
  * keeping at most
  * maxIds+1 ids per partition and on the driver. Within budget the ids
  * sort into a primitive array (8 bytes/id, the JVM analog of the
  * reference's bitmap), broadcast, and gate the beam walk through a
  * binary-search callback. The plan-time estimate
  * (`GraphFamily.maxFilterIds`) is uniform-assumption, so a skewed hot
  * value can blow it: the cap detects that at execution and the leaf
  * falls back to the exact DISTRIBUTED filtered top-k (an RDD
  * takeOrdered — deliberately NOT a Dataset orderBy/limit, which is the
  * very shape the routing rule would re-route into this leaf, recursing
  * unboundedly).
  *
  * `output` reuses the base relation's attributes verbatim (same exprIds),
  * so every upstream expression rebinds without aliasing; output columns
  * a source does not read are null (the rule routes only when they are
  * unreferenced and nullable). */
final case class AnnCandidates(source: CandidateSource, idName: String,
                               vecName: String, query: Seq[Float], k: Int,
                               output: Seq[Attribute],
                               filter: Option[Expression] = None)
    extends LeafNode {
  // No `maxRows` override: a bound of k would let Catalyst's EliminateLimits
  // drop the top-k Limit above this leaf, turning the top-k (GraphTopKExec
  // or TakeOrderedAndProject) into a global Sort with a range-partitioning Exchange (three extra jobs
  // per search under AQE). The size hint alone keeps broadcasts sized.
  override def computeStats(): Statistics = {
    val rows = source match {
      case w: GraphWalk if !w.quantized => k.toLong
      case w: GraphWalk => k.toLong * w.refine
      case s: CodeScreen => k.toLong * s.refine
    }
    Statistics(sizeInBytes = math.max(1L, rows * 4L * (query.size + 2)))
  }
}

/** Plans an [[AnnCandidates]] leaf. The name predates the code screens:
  * perfbench's plan probe recognizes a routed plan by it. */
final case class GraphCandidatesExec(node: AnnCandidates)
    extends LeafExecNode {

  override def output: Seq[Attribute] = node.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "probed" -> SQLMetrics.createMetric(sparkContext, "sub-graphs probed"),
    "walkJobs" -> SQLMetrics.createMetric(sparkContext, "walk jobs"),
    "screened" -> SQLMetrics.createMetric(sparkContext, "rows screened"),
    "candidates" -> SQLMetrics.createMetric(sparkContext,
      "candidates returned"),
    "filterIds" -> SQLMetrics.createMetric(sparkContext, "filter ids"),
    "fallback" -> SQLMetrics.createMetric(sparkContext, "fallback taken"))

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows().toSeq, 1)

  /** The leaf's rows, computed on the driver; the metrics they took are
    * posted to the running SQL execution. `resultBudget` bounds the bytes
    * of whole rows a code screen's tasks send. */
  def rows(resultBudget: Long = GraphCandidatesExec.resultBudget(
      sparkContext)): Array[InternalRow] = {
    val spark = SparkSession.active
    val out = node.source match {
      case w: GraphWalk => walkRows(spark, w)
      case s: CodeScreen => screenRows(spark, s, resultBudget)
    }
    metrics("candidates") += out.length
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    out
  }

  /** The base columns the consumed filter reads. */
  private def filterCols: Seq[String] =
    node.filter.toSeq.flatMap(_.references.map(_.name)).distinct

  /** The consumed filter bound to a scan of `cols`. The scans are planned
    * once per table, with no per-query predicate, so the filter runs in
    * their tasks. */
  private def boundFilter(cols: Seq[String]): Option[Expression] =
    node.filter.map(_.transform {
      case a: AttributeReference =>
        BoundReference(cols.indexOf(a.name), a.dataType, nullable = true)
    })

  private def walkRows(spark: SparkSession,
                       w: GraphWalk): Array[InternalRow] = {
    val sc = spark.sparkContext
    val (idName, vecName) = (node.idName, node.vecName)
    // K3: the consumed filter re-evaluates as a column-pruned job over
    // (id, filter columns) — never the vectors. NULL ids are dropped, not
    // NPE'd: such rows cannot be graph nodes anyway (review r10-2).
    // The plan-time estimate gates the route, but only the ACTUAL
    // cardinality bounds the broadcast: a uniform ndv estimate can be
    // arbitrarily low under value skew (review r10-3). ONE id job decides,
    // each task and the driver keeping at most maxIds+1 ids (bounded
    // driver memory, no separate count pass): within budget the ids ARE
    // the broadcast set; over budget → the exact DISTRIBUTED filtered
    // top-k (never a huge driver collect) — identical rows through the
    // Sort above, just without the graph walk's probe economy.
    val overLimit =
      (math.min(w.maxIds, Int.MaxValue.toLong - 2L) + 1L).toInt
    val idsOpt = node.filter.map { _ =>
      val ids = new scala.collection.mutable.ArrayBuilder.ofLong
      val cols = (idName +: filterCols).distinct
      val cond = boundFilter(cols)
      sc.runJob(Graft.cachedScan(spark, w.basePath, cols),
        (it: Iterator[InternalRow]) => {
          val pass = GraphCandidatesExec.passing(cond)
          it.filter(r => !r.isNullAt(0) && pass(r)).map(_.getLong(0))
            .take(overLimit).toArray
        },
        (_: Int, part: Array[Long]) => ids ++= part.take(overLimit - ids.length))
      val all = ids.result()
      metrics("filterIds") += all.length
      all
    }
    val rows: Array[(Long, Array[Float])] = idsOpt match {
      case Some(ids) if ids.length >= overLimit =>
        metrics("fallback") += 1
        val metric = graft.vector.Hnsw.indexMetric(spark, w.indexPath)
        val qB = sc.broadcast(node.query.toArray)
        // RDD takeOrdered, NOT a Dataset orderBy(dist).limit(k): that
        // Dataset query is the exact shape the routing rule matches, so
        // it would route back into a fresh candidate leaf and recurse
        // without bound (review r10-3 hang). The RDD path cannot re-enter
        // the optimizer; scalarDist orders identically to the sort key
        // (sqrt/1-cos are monotone) and the Sort above recomputes the
        // exact distances anyway. NULL ids and vectors are excluded
        // exactly as the walk excludes them (not graph nodes).
        val cols = (Seq(idName, vecName) ++ filterCols).distinct
        val cond = boundFilter(cols)
        try {
          Graft.cachedScan(spark, w.basePath, cols)
            .mapPartitions { it =>
              val pass = GraphCandidatesExec.passing(cond)
              it.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && pass(r))
            }
            .map { r =>
              val v = r.getArray(1).toFloatArray()
              (graft.vector.Ivf.scalarDist(metric, qB.value, v),
                r.getLong(0), v)
            }
            .takeOrdered(node.k)(
              Ordering.by((t: (Double, Long, Array[Float])) => (t._1, t._2)))
            .map { case (_, id, v) => (id, v) }
        } finally qB.destroy()
      case _ =>
        val allowedB = idsOpt.map { ids =>
          java.util.Arrays.sort(ids)
          sc.broadcast(ids)
        }
        val allowed = allowedB.map { b =>
          (id: Long) => java.util.Arrays.binarySearch(b.value, id) >= 0
        }
        try {
          // ONE routed walk over whichever node space the index holds
          // (flat or hierarchy entry per the registration)
          val jobs0 = graft.vector.Hnsw.probeRounds.get()
          val (walked, probed) = graft.vector.Hnsw.walkRouted(spark,
            w.indexPath, node.query.toArray, node.k, w.ef, w.refine,
            allowed = allowed, adaptive = w.adaptive, hier = w.hier,
            hierMin = w.hierMin)
          metrics("probed") += probed
          metrics("walkJobs") += graft.vector.Hnsw.probeRounds.get() - jobs0
          if (!w.quantized) walked.map(t => (t._1, t._3))
          else if (walked.isEmpty) Array.empty[(Long, Array[Float])]
          else {
            // a code graph returns k·refine coarse survivor ids without
            // vectors → ONE job over the column-pruned (id, vector) scan
            // keeps the survivors, in scan order. An id-IN filter would
            // prune nothing: past 10 values Parquet pushes it down only as
            // the [min, max] range, which k·refine survivors span.
            val want = walked.map(_._1).sorted
            Graft.cachedScan(spark, w.basePath, Seq(idName, vecName))
              .filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
                java.util.Arrays.binarySearch(want, r.getLong(0)) >= 0)
              .map(r => (r.getLong(0), r.getArray(1).toFloatArray()))
              .collect()
          }
        }
        // the walk is fully driver-orchestrated, so the broadcast is dead
        // once it returns — free the up-to-maxIds*8 bytes instead of
        // leaving them to the ContextCleaner (review r10-2)
        finally allowedB.foreach(_.destroy())
    }
    // unreferenced base columns (the route refuses otherwise): null
    val proj = UnsafeProjection.create(node.output.map(a => a.name match {
      case `idName` => BoundReference(0, LongType, nullable = false)
      case `vecName` => BoundReference(1, a.dataType, nullable = false)
      case _ => Literal(null, a.dataType)
    }))
    rows.map { case (id, vec) =>
      proj(InternalRow(id, ArrayData.toArrayData(vec))).copy()
    }
  }

  /** ONE job over the coded table's rows that pass the screen's pushdown
    * and the consumed filter: each task scores its rows and keeps its top
    * k·refine by (code distance, id); the driver merges the tasks' tops
    * as they arrive into the global top k·refine — the candidate set of
    * the explicit screen-then-join ([[graft.vector.Quantize.searchRescore]],
    * [[graft.vector.Ivf.searchPq]]). A task sends its kept rows whole
    * while they fit its share of `resultBudget`, else only their
    * (distance, id): partitions × k·refine rows of any width would
    * otherwise pile up on the driver. A second job then fetches the rows
    * of the survivors sent without them. */
  private def screenRows(spark: SparkSession, s: CodeScreen,
                         resultBudget: Long): Array[InternalRow] = {
    val sc = spark.sparkContext
    val screen = s.screen
    val nScreen = screen.columns.size
    // the screen's columns lead every scanned row
    val cols = (screen.columns ++ (node.idName +: s.read) ++ filterCols)
      .distinct
    val types = {
      val schema = Graft.cachedRead(spark, s.tablePath).schema
      cols.map(schema(_).dataType)
    }
    val idAt = cols.indexOf(node.idName)
    val readId = GraphCandidatesExec.longAt(idAt, types(idAt))
    val scorable = (r: InternalRow) => {
      var ok = !r.isNullAt(idAt)
      var i = 0
      while (ok && i < nScreen) { ok = !r.isNullAt(i); i += 1 }
      ok
    }
    val cond = boundFilter(cols)
    val keep = graft.vector.Knn.refineKeep(node.k, s.refine)
    val scan = screen.pushdown.fold(Graft.cachedScan(spark, s.tablePath, cols))(
      Graft.prunedScan(spark, s.tablePath, cols, _))
    val share = resultBudget / math.max(1, scan.getNumPartitions)
    val top = new GraphCandidatesExec.Top(keep)
    var screened = 0L
    sc.runJob(scan, (it: Iterator[InternalRow]) => {
        val score = screen.scorer()
        val pass = GraphCandidatesExec.passing(cond)
        val toUnsafe = UnsafeProjection.create(types.toArray)
        val local = new GraphCandidatesExec.Top(keep)
        var n = 0L
        it.foreach { r =>
          if (scorable(r) && pass(r)) {
            n += 1
            val (d, id) = (score(r), readId(r))
            if (local.admits(d, id)) local.add((d, id, toUnsafe(r).copy()))
          }
        }
        val kept = local.sorted
        if (kept.map(_._3.getSizeInBytes.toLong).sum <= share) (n, kept)
        else (n, kept.map(t => (t._1, t._2, null: UnsafeRow)))
      },
      (_: Int, part: (Long, Array[GraphCandidatesExec.Scored])) => {
        screened += part._1
        part._2.foreach(t => if (top.admits(t._1, t._2)) top.add(t))
      })
    metrics("screened") += screened
    val best = top.sorted
    val missing = best.filter(_._3 == null).map(_._2).sorted
    val fetched = new scala.collection.mutable.ArrayBuffer[UnsafeRow]
    if (missing.nonEmpty) sc.runJob(scan, (it: Iterator[InternalRow]) => {
        val pass = GraphCandidatesExec.passing(cond)
        val toUnsafe = UnsafeProjection.create(types.toArray)
        it.filter(r => scorable(r) &&
            java.util.Arrays.binarySearch(missing, readId(r)) >= 0 && pass(r))
          .map(r => toUnsafe(r).copy()).toArray
      },
      (_: Int, part: Array[UnsafeRow]) => fetched ++= part)
    val proj = UnsafeProjection.create(node.output.map { a =>
      val at = cols.indexOf(a.name)
      if (at < 0) Literal(null, a.dataType)
      else BoundReference(at, a.dataType, nullable = true)
    })
    (best.flatMap(t => Option(t._3)) ++ fetched).map(r => proj(r).copy())
  }
}

object GraphCandidatesExec {
  /** A screened row: (code distance, id, the row — null when its task
    * sent only the rank). */
  type Scored = (Double, Long, UnsafeRow)

  /** The `keep` least screened rows by (code distance, id) offered. */
  final class Top(keep: Int) {
    // a max-heap: its head is the row to displace
    private val heap = new java.util.PriorityQueue[Scored](keep + 1,
      (a: Scored, b: Scored) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      })
    def admits(d: Double, id: Long): Boolean = heap.size < keep || {
      val h = heap.peek()
      val c = java.lang.Double.compare(d, h._1)
      c < 0 || c == 0 && id < h._2
    }
    def add(t: Scored): Unit = {
      heap.add(t)
      if (heap.size > keep) heap.poll()
    }
    /** The kept rows, ascending. */
    def sorted: Array[Scored] =
      heap.toArray(new Array[Scored](0)).sortBy(t => (t._1, t._2))
  }

  /** The bytes a screen job's tasks may send as whole rows: a quarter of
    * `spark.driver.maxResultSize`, at most 64 MB. */
  def resultBudget(sc: SparkContext): Long = {
    val max = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val cap = 64L << 20
    if (max <= 0) cap else math.min(cap, max / 4)
  }

  /** The integral column `at` of type `dt`, widened to long. */
  def longAt(at: Int, dt: DataType): InternalRow => Long = dt match {
    case LongType => _.getLong(at)
    case IntegerType => _.getInt(at).toLong
    case ShortType => _.getShort(at).toLong
    case _ => _.getByte(at).toLong
  }

  /** A bound filter as one task's row test; `params` are the values of
    * the columns it binds past the row's own. */
  def passing(cond: Option[Expression],
              params: Seq[Any] = Nil): InternalRow => Boolean =
    cond.fold((_: InternalRow) => true) { c =>
      val p = Predicate.create(c)
      p.initialize(TaskContext.getPartitionId())
      if (params.isEmpty) p.eval
      else {
        val row = new JoinedRow(null, new GenericInternalRow(params.toArray))
        r => p.eval(row.withLeft(r))
      }
    }
}

/** The top-k of a routed search at the root of a query, taken on
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

/** Plans [[AnnCandidates]] → [[GraphCandidatesExec]], the query-root
  * `LIMIT k` over `[Project] Sort` over Project/Filter nodes over one →
  * [[GraphTopKExec]] (the shapes, and the fallback threshold, of the
  * built-in planner's `TakeOrderedAndProjectExec`), and a LEFT SEMI join
  * of a fact scan with the `rowids` a postings scan explodes →
  * [[PostingsLookupExec]] (the routed filter of [[IndexRoutingRule]] and
  * [[graft.index.SecondaryIndex.semiJoin]], recognised by shape:
  * [[PostingsLookupExec.plan]]); injected by [[GraftExtensions]]. */
class AnnCandidatesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: AnnCandidates => GraphCandidatesExec(g) :: Nil
    case j: Join => PostingsLookupExec.plan(j).toList
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
    case _: AnnCandidates => true
    case Project(_, c) => overLeaf(c)
    case Filter(_, c) => overLeaf(c)
    case _ => false
  }
}
