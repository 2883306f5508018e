package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** The graph family's routed-candidate leaf (K4 beyond IVF, VERDICT r9
  * #4): [[AnnRoutingRule]] swaps a registered base-table scan under an
  * `ORDER BY dist LIMIT k` for this node, which produces the top-k
  * (id, vector) rows of [[graft.vector.Hnsw.searchRoutedRaw]] — the
  * centroid-ordered, triangle-bounded routed walk over the clustered
  * sub-graphs. The ORIGINAL Sort/Limit stays above and recomputes exact
  * distances from the carried vectors, so the routed plan's results are
  * identical to the explicit API's (and to the fullscan at full ef) —
  * the same leaf-swap contract as the IVF route.
  *
  * The routed walk is a driver-orchestrated probe loop (bounds decide the
  * next batch from the previous batch's results), which no static
  * DataFrame composition can express — hence a custom leaf + strategy
  * (the sanctioned (c) tier: LogicalPlan + SparkStrategy + SparkPlan),
  * not a mapPartitions bolt-on. Execution happens in `doExecute` (the
  * probe loop schedules jobs over the RESIDENT graph RDD — zero tasks for
  * unprobed sub-graphs); plan time touches no data.
  *
  * FILTERED route (K3 automatic, the reference host's flow: it builds the
  * allowed-rowid bitmap from the query's other filters and hands it to the
  * KNN iterator's callback, knn/knn.h:87-94): when [[AnnRoutingRule]]
  * consumes an attribute `Filter`, the leaf carries the condition as SQL
  * (`filterSql`) plus the base-table path. `doExecute` runs ONE
  * budget-limited column-pruned job — `read(base).filter(cond).select(id)
  * .limit(maxIds+1)` — never reading the vector column. Within budget the
  * collected ids sort into a primitive array (8 bytes/id, the JVM analog
  * of the reference's bitmap), broadcast, and gate the beam walk through
  * a binary-search callback. The plan-time estimate (`GraphFamily
  * .maxFilterIds`) is uniform-assumption, so a skewed hot value can blow
  * it: the limit detects that at execution and the leaf falls back to the
  * exact DISTRIBUTED filtered top-k (an RDD takeOrdered — deliberately
  * NOT a Dataset orderBy/limit, which is the very shape the routing rule
  * would re-route into this leaf, recursing unboundedly).
  *
  * `quantized = true` switches the in-budget arm to the CODE-space routed
  * walk ([[graft.vector.Hnsw.searchQuantizedCoarse]]): the leaf collects
  * the k·`refine` coarse survivor ids, fetches their RAW vectors from the
  * base table (one id-IN pushdown job over ≤ k·refine ids — the index
  * stores codes, floats are never resident), and the untouched Sort/Limit
  * above performs the exact rescore — the same k·refine serving contract
  * as the explicit `searchQuantized` and the quant-table splices.
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
  // drop the top-k Limit above this leaf, turning the TakeOrderedAndProject
  // into a global Sort with a range-partitioning Exchange (three extra jobs
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

  override protected def doExecute(): RDD[InternalRow] = {
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
    // arbitrarily low under value skew (review r10-3). ONE budget-limited
    // id job decides (collect of at most maxIds+1 ids — bounded driver
    // memory, no separate count pass): within budget the collected ids
    // ARE the broadcast set; over budget → the exact DISTRIBUTED filtered
    // top-k (never a huge driver collect) — identical rows through the
    // Sort above, just without the graph walk's probe economy.
    val overLimit =
      (math.min(node.maxIds, Int.MaxValue.toLong - 2L) + 1L).toInt
    val idsOpt = filteredBase.map { fdf =>
      fdf.select(col(node.idName)).limit(overLimit)
        .collect().map(_.getLong(0))
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
          if (node.quantized) {
            // code-space coarse walk → candidate ids → ONE bounded raw
            // fetch (≤ k·refine ids pushed as an IN filter; the vector
            // column is read only for the survivors)
            val ids = graft.vector.Hnsw.searchQuantizedCoarse(spark,
              node.indexPath, node.query.toArray, node.k, node.ef,
              node.refine, allowed = allowed, hier = node.hier,
              hierMin = node.hierMin)._1
            if (ids.isEmpty) Array.empty[(Long, Double, Array[Float])]
            else graft.engine.Graft.cachedRead(spark, node.basePath.get)
              .filter(col(node.idName).isin(ids: _*))
              .filter(col(node.vecName).isNotNull)
              .select(col(node.idName), col(node.vecName))
              .collect()
              .map(r => (r.getLong(0), 0.0, r.getSeq[Float](1).toArray))
          } else if (node.hier)
            // hierarchy-entry routed walk (registerGraph(hierarchy=true)):
            // same raw-rows contract, the beam just starts at the descent's
            // entry inside every probed sub-graph
            graft.vector.Hnsw.searchRoutedHierRaw(spark, node.indexPath,
              node.query.toArray, node.k, node.ef, allowed = allowed,
              adaptiveTermination = node.adaptive,
              hierMin = node.hierMin)._1
          else graft.vector.Hnsw.searchRoutedRaw(spark, node.indexPath,
            node.query.toArray, node.k, node.ef, allowed = allowed,
            adaptiveTermination = node.adaptive)._1
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
    val data = rows.map { case (id, _, vec) =>
      InternalRow.fromSeq(names.map {
        case n if n == node.idName => id
        case n if n == node.vecName =>
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(vec)
        // unreferenced base columns (the route refuses otherwise): null
        case _ => null
      })
    }.toSeq
    sparkContext.parallelize(data, 1).mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map(proj)
    }
  }
}

/** Plans [[GraphCandidates]] → [[GraphCandidatesExec]]; injected by
  * [[GraftExtensions]]. */
class GraphCandidatesStrategy extends SparkStrategy {
  override def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[SparkPlan] = plan match {
    case g: GraphCandidates => GraphCandidatesExec(g) :: Nil
    case _ => Nil
  }
}
