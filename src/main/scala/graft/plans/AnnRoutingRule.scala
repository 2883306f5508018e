package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType, IntegerType, LongType, ShortType, StructType}

import graft.vector.{CosineSimilarity, Hnsw, InnerProduct, Ivf, Knn, L2Distance, Quantize}
import Routing.qualify

/** K4 finished: the automatic index-vs-fullscan route (ref ShouldUseFullscan,
  * knn/knn.cpp:613-620 — the host daemon consults it per query and the
  * library then serves either the HNSW walk or a filtered brute-force scan).
  *
  * [[AnnRouting]] is the registry (the analog of the reference's "this
  * column has a KNN index" table metadata, knn/knn.h:167-175);
  * [[AnnRoutingRule]] is the Catalyst optimizer rule (injected by
  * [[GraftExtensions]]) that recognizes the exact-knn plan shape
  *
  *   Limit k ∘ Sort [dist asc, …] ∘ … ∘ (Filter?) ∘ ParquetRelation(base)
  *
  * where `dist` is one of the engine's distance expressions over a
  * registered vector column and a literal query vector, and REWRITES the
  * base-table scan into a scan of the IVF index table restricted to the
  * `nprobe` lists nearest the query — Parquet file/row-group pruning on the
  * range-clustered `ivf_cluster` column then skips the untouched lists.
  * The Sort/Limit above is untouched (it still lowers to
  * TakeOrderedAndProject), so with nprobe = nlist the routed plan is
  * bit-identical to the fullscan — the oracle-checked configuration.
  *
  * Routing decision, mirroring the reference:
  *  - no attribute filter → use the index (an unfiltered top-k is what the
  *    index exists for);
  *  - attribute filter present → estimate its selectivity from Parquet
  *    footer stats ([[graft.stats.Stats.estimateRange]], the Z4 seam) and
  *    consult [[Knn.shouldUseFullscan]]: few enough survivors → leave the
  *    plan alone (exact filtered fullscan, the reference's brute-force
  *    bypass); un-estimable filter shapes stay on the fullscan path too
  *    (conservative: the unrouted plan is always exact).
  *
  * 100 TB note: the decision consumes only registry metadata and footer
  * stats already cached at registration — no data scan happens at plan
  * time. The rewrite itself is a metadata swap of one leaf.
  */
object AnnRouting {

  /** Index family behind a registration — the reference's CreateIterator
    * serves whatever index type the column has (knn/knn.cpp:600-610);
    * the same recognizer here dispatches on the registered family. */
  sealed trait Family {
    /** The metric the index serves — the routing key of the plan rule and
      * the join dispatch (every family pins it at registration: a flat
      * codec carries its trained metric, the graph family its sidecar's,
      * IVF its coarse model's, IVF-ADC its explicit marker). */
    def metric: Knn.Metric
    /** The id column the candidate leaf truncates and tie-breaks on; None
      * for the IVF leaf swap, which truncates nothing. */
    def leafIdCol: Option[String]
  }
  /** IVF: the routed plan is a probe-restricted scan of the clustered
    * index table (a pure leaf swap — Parquet pruning does the skipping). */
  final case class IvfFamily(model: Ivf.Model, nprobe: Int, ef: Int,
                             indexPlan: LogicalPlan) extends Family {
    def metric: Knn.Metric = model.metric
    def leafIdCol: Option[String] = None
  }
  /** Clustered/routed graph ([[graft.vector.Hnsw.buildIndexClustered]]):
    * the routed plan swaps the scan for an [[AnnCandidates]] leaf walking
    * the graph ([[GraphWalk]]: the centroid-ordered triangle-bounded walk,
    * exact at full ef).
    *  - `maxFilterIds` gates the FILTERED route: an attribute filter is
    *    consumed into the walk's allowed-id callback only when footer
    *    stats bound its survivors by this many ids (the broadcast-set
    *    budget — the analog of the reference's filter-bitmap size, which
    *    is likewise O(rows) on one node).
    *  - `adaptive` opts the routed walks into the P²-quantile early
    *    termination (knn/termination.h) — an accuracy/cost knob: beams may
    *    stop before exhaustion, so results can be slightly sub-exact for
    *    k > 10 (the reference gates the policy off for k ≤ 10,
    *    knn.cpp:481-483, mirrored in the walk). Default off keeps every
    *    routed plan on the exact full-ef contract.
    *  - `hier` serves the routed walks through the layer hierarchy
    *    (`Hnsw.searchRoutedRaw(hier = true)`): each probed sub-graph
    *    greedily descends its upper layers to the beam entry — same
    *    exactness contract (entry-independent at full ef). Requires the
    *    index to have a `_layers` sidecar (checked at registration).
    *  - `hierMin` is the [[graft.vector.Hnsw.hierMinRows]] threshold
    *    CAPTURED at registration (-1 = read the conf at walk time): a
    *    forced-descent registration stays forced across every later
    *    execution of its routed plans without leaving the global conf set
    *    session-wide (ADVICE r16 #1).
    *  - `quantized` records, read from the index at registration, that
    *    it holds int8 codes
    *    ([[graft.vector.Hnsw.buildIndexClusteredQuantized]]): the leaf's
    *    walk returns coarse survivors and the leaf fetches the k·`refine` coarse
    *    survivors' raw vectors from the base table — the untouched
    *    Sort/Limit above is the exact rescore (the `searchQuantized`
    *    serving contract). */
  final case class GraphFamily(idCol: String, ef: Int,
                               metric: Knn.Metric,
                               maxFilterIds: Long,
                               adaptive: Boolean = false,
                               hier: Boolean = false,
                               hierMin: Int = -1,
                               quantized: Boolean = false,
                               refine: Int = 8) extends Family {
    def leafIdCol: Option[String] = Some(idCol)
  }
  /** Flat coded table ([[graft.vector.Quantize.encodeTable]] with any
    * [[Quantize.FlatCodec]]): the routed plan swaps the scan for an
    * [[AnnCandidates]] leaf running the codec's coarse screen
    * ([[CodeScreen]]: one job keeping the top k·refine rows by code
    * distance) under the original Sort/Limit — the exact rescore IS the
    * untouched Sort recomputing float distances. `indexSchema` is the
    * coded table's, read at registration. */
  final case class FlatFamily(codec: Quantize.FlatCodec, codeCol: String,
                              idCol: String, refine: Int,
                              indexSchema: StructType) extends Family {
    def metric: Knn.Metric = codec.metric
    def leafIdCol: Option[String] = Some(idCol)
  }
  /** Composite IVF-ADC index ([[graft.vector.Ivf.buildIndexPq]] — coarse
    * lists + residual PQ codes, r16): the same screen leaf as the flat
    * family, with the PROBE-PRUNED per-list ADC screen
    * ([[graft.vector.Ivf.pqScreen]]) — the scan touches only the
    * `nprobe` nearest lists' files. Even at nprobe = nlist the result is
    * exact only when the true top-k lands inside the k·refine ADC coarse
    * set — a survivor margin, not a bound (IVF-PQ cosine at nprobe =
    * nlist, refine 32 measured recall@10 ≈ 0.85 on a 20k × 64 clustered
    * corpus); smaller nprobe lowers recall further, like [[IvfFamily]]'s. */
  final case class IvfPqFamily(model: Ivf.Model,
                               pq: Quantize.PqModel,
                               idCol: String, nprobe: Int,
                               refine: Int,
                               metric: Knn.Metric = Knn.L2,
                               indexSchema: StructType) extends Family {
    def leafIdCol: Option[String] = Some(idCol)
  }

  final case class Registered(basePath: String, indexPath: String,
                              vecCol: String, rows: Long, family: Family,
                              vecNulls: Option[Long] = None)

  private val reg =
    scala.collection.concurrent.TrieMap.empty[String, Registered]

  /** Analyze the index table ONCE at registration (file listing +
    * schema inference) — plan time then touches no storage
    * (review r18-9: the flat families re-listed the index per
    * optimization pass, contradicting the file's own 100 TB note). Reads
    * the LIVE dir ([[graft.index.Commit.resolve]]): a committed generation,
    * or the backup inside a rename swap's crash window. */
  private def analyzedPlan(spark: SparkSession, path: String): LogicalPlan =
    spark.read.parquet(graft.index.Commit.resolve(spark, path))
      .queryExecution.analyzed

  /** Register an IVF index for `basePath`: every ORDER BY dist LIMIT k over
    * that table is then a routing candidate. Row count comes from footers
    * (no scan); the index relation is analyzed once here.
    *
    * Registration is TABLE-LEVEL state, exactly like the reference daemon's
    * "this column has a KNN index": with nprobe < nlist, EVERY matching
    * top-k over the table in this session is served at that accuracy — the
    * declared serving contract for the table, not a per-query hint. Use
    * nprobe = nlist for exact routed plans, or [[unregister]] to scope. */
  def register(spark: SparkSession, basePath: String, indexPath: String,
               model: Ivf.Model, vecCol: String, nprobe: Int,
               ef: Int = 64): Unit = {
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"nprobe $nprobe out of [1, ${model.nlist}]")
    val q = qualify(spark, basePath)
    val epoch0 = epochOf(spark, indexPath)
    val rows = -1L // filled by putUnlessMutated's single footer sweep
    putUnlessMutated(spark, indexPath, epoch0, q,
      Registered(q, indexPath, vecCol, rows,
        IvfFamily(model, nprobe, ef, analyzedPlan(spark, indexPath))))
  }

  /** Register a CLUSTERED GRAPH index — float
    * ([[graft.vector.Hnsw.buildIndexClustered]]) or int8 code
    * ([[graft.vector.Hnsw.buildIndexClusteredQuantized]]), the space is
    * read from the index — for `basePath`: every matching
    * `ORDER BY dist LIMIT k` over the table routes through the
    * centroid-ordered sub-graph walk at accuracy `ef` (full ef ⇒ exact —
    * the oracle-checked configuration). The sidecar metric is read ONCE
    * here (a few rows) so plan time stays metadata-only; latest
    * registration per base table wins, exactly like the IVF family. */
  def registerGraph(spark: SparkSession, basePath: String, indexPath: String,
                    vecCol: String, idCol: String,
                    ef: Int = 1 << 20,
                    maxFilterIds: Long = 4L * 1000 * 1000,
                    adaptiveTermination: Boolean = false,
                    hierarchy: Boolean = false): Unit =
    registerGraphIndex(spark, basePath, indexPath, vecCol, idCol, ef, 8,
      maxFilterIds, adaptiveTermination, hierarchy)

  /** [[registerGraph]] with the code graph's accuracy contract: `refine`
    * is the k·refine coarse-survivor count (the explicit
    * `searchQuantized` default — r15: the reference serves whatever index
    * type the column has, knn/knn.cpp:600-610, including the quantized
    * HNSW of knn.cpp:105-135). Filters are consumed into the walk's
    * allowed-id callback under the same `maxFilterIds` broadcast budget as
    * the float graph. */
  def registerGraphQuantized(spark: SparkSession, basePath: String,
                             indexPath: String, vecCol: String,
                             idCol: String, ef: Int = 1 << 20,
                             refine: Int = 8,
                             maxFilterIds: Long = 4L * 1000 * 1000,
                             hierarchy: Boolean = false): Unit =
    registerGraphIndex(spark, basePath, indexPath, vecCol, idCol, ef, refine,
      maxFilterIds, adaptiveTermination = false, hierarchy)

  private def registerGraphIndex(spark: SparkSession, basePath: String,
                                 indexPath: String, vecCol: String,
                                 idCol: String, ef: Int, refine: Int,
                                 maxFilterIds: Long,
                                 adaptiveTermination: Boolean,
                                 hierarchy: Boolean): Unit = {
    val q = qualify(spark, basePath)
    val epoch0 = epochOf(spark, indexPath)
    val rows = -1L // filled by putUnlessMutated's single footer sweep
    val metric = Hnsw.indexMetric(spark, indexPath)
    require(!hierarchy || Hnsw.hasHierarchy(spark, indexPath),
      s"registerGraph(hierarchy = true): $indexPath has no layer sidecar " +
        "— run Hnsw.buildHierarchy first")
    putUnlessMutated(spark, indexPath, epoch0, q,
      Registered(q, indexPath, vecCol, rows,
        GraphFamily(idCol, ef, metric, maxFilterIds, adaptiveTermination,
          hierarchy,
          // capture the engagement threshold NOW — the registration, not
          // the session conf at some later execution, owns the contract
          if (hierarchy) Hnsw.hierMinRows(spark) else -1,
          quantized = Hnsw.holdsCodes(spark, indexPath), refine = refine)))
  }

  /** Register a FLAT coded table ([[graft.vector.Quantize.encodeTable]]
    * at `quantPath` — base columns + the codec's code columns) for
    * `basePath`: a top-k in the codec's trained metric routes through the
    * codec's coarse screen, with `refine` (0 = the codec's
    * [[Quantize.FlatCodec.defaultRefine]]) as the accuracy contract — the
    * true top-k must sit in the top k·refine coarse set, the serving
    * contract the explicit [[graft.vector.Quantize.searchRescore]]
    * carries — and batch joins take [[graft.vector.Quantize.knnJoin]].
    * The automatic route serves whatever codec the column has (ref
    * CreateIterator dispatch, knn/knn.cpp:600-610). Typical use registers
    * the coded table as its OWN base (it carries the original vectors). */
  def registerFlat(spark: SparkSession, basePath: String, quantPath: String,
                   codec: Quantize.FlatCodec, vecCol: String, idCol: String,
                   codeCol: String, refine: Int = 0): Unit = {
    val q = qualify(spark, basePath)
    val epoch0 = epochOf(spark, quantPath)
    val rows = -1L // filled by putUnlessMutated's single footer sweep
    putUnlessMutated(spark, quantPath, epoch0, q,
      Registered(q, quantPath, vecCol, rows,
        FlatFamily(codec, codeCol, idCol, codec.refineOr(refine),
          analyzedPlan(spark, quantPath).schema)))
  }

  /** Register a composite IVF-ADC index
    * ([[graft.vector.Ivf.buildIndexPq]] at `indexPath`) for `basePath` —
    * one family of the CreateIterator-style dispatch (the
    * reference serves whatever index type the column has,
    * knn/knn.cpp:600-610): a plain L2 top-k routes through the
    * probe-pruned per-list ADC screen with (`nprobe`, `refine`) as the
    * declared serving contract; batch joins dispatch to
    * [[graft.vector.Ivf.knnJoinPq]]. Typical use registers the coded
    * table as its own base (it carries the original vectors). `metric` is
    * the serving metric (L2 or Cosine — cosine routes the
    * `1 - cosine_sim` sort key through the normalized-space screen, the
    * [[graft.vector.Ivf.buildIndexPq]] cosine layout; the reference
    * serves cosine on every quantized index, knn/knn.h:32-37). */
  def registerIvfPq(spark: SparkSession, basePath: String, indexPath: String,
                    model: Ivf.Model, pq: graft.vector.Quantize.PqModel,
                    vecCol: String, idCol: String, nprobe: Int,
                    refine: Int = 32,
                    metric: Knn.Metric = Knn.L2): Unit = {
    require(model.metric == Knn.L2,
      "the IVF-ADC coarse model binds the L2 screen space")
    require(nprobe >= 1 && nprobe <= model.nlist,
      s"nprobe $nprobe out of [1, ${model.nlist}]")
    Ivf.checkPqMetric(spark, indexPath, metric)
    val q = qualify(spark, basePath)
    val epoch0 = epochOf(spark, indexPath)
    val rows = -1L // filled by putUnlessMutated's single footer sweep
    putUnlessMutated(spark, indexPath, epoch0, q,
      Registered(q, indexPath, vecCol, rows,
        IvfPqFamily(model, pq, idCol, nprobe, refine, metric,
          analyzedPlan(spark, indexPath).schema)))
  }

  def unregister(spark: SparkSession, basePath: String): Unit =
    reg.remove(qualify(spark, basePath))

  def clear(): Unit = reg.clear()

  /** BATCH form of the automatic dispatch (r15 — the reference's
    * CreateIterator serves whatever index type the column has,
    * knn/knn.cpp:600-610; this is the same recognizer for the KNN-JOIN
    * surface): each query row of `queries` gets its k nearest rows of the
    * table at `basePath`, served by whatever index family is REGISTERED
    * for it — [[graft.vector.Ivf.knnJoin]] (list-probed equi-join),
    * [[graft.vector.Hnsw.knnJoinRouted]] (amortized sub-graph walks; for
    * a code graph [[graft.vector.Hnsw.knnJoinQuantized]]'s code-space
    * walks + exact rescore), or [[graft.vector.Quantize.knnJoin]] (the
    * flat codecs' screened join) — each at the accuracy contract its registration declared (nprobe /
    * ef / refine), exactly like the single-query route. Unregistered
    * tables take the exact [[graft.vector.Knn.knnJoin]] fullscan — the
    * same conservative fallback the plan rule uses.
    *
    * `vecCol`/`idCol` describe the base table for the unregistered
    * fallback; a registration's own column bindings win when present.
    * `metric` is the REQUESTED metric and dispatches exactly like the
    * single-query route (r20 — `1−ip_score` keys route only to
    * matching-metric registrations): a registration whose index was
    * built for a DIFFERENT metric does not serve the join — the batch
    * takes the same exact fullscan fallback an unregistered table does
    * (previously the flat families crashed on the mismatch and the
    * graph/IVF families silently served their own metric — the batch
    * analog of the wrong-space screen the single-query dispatch
    * refuses). Output contract matches every join leg:
    * (qIdCol, cIdCol, dist, rn), rn 1..k by (dist, id). */
  def knnJoin(spark: SparkSession, basePath: String,
              vecCol: String, idCol: String,
              queries: DataFrame,
              qIdCol: String, qVecCol: String, cIdCol: String,
              k: Int, metric: Knn.Metric = Knn.L2): DataFrame = {
    def renamed(df: DataFrame, from: String): DataFrame =
      if (from == cIdCol) df else df.withColumnRenamed(from, cIdCol)
    reg.get(qualify(spark, basePath)) match {
      case Some(r) if r.family.metric == metric => r.family match {
        case IvfFamily(model, nprobe, _, _) =>
          renamed(Ivf.knnJoin(spark, r.indexPath, model, queries,
            qIdCol, qVecCol, idCol, r.vecCol, k, nprobe), idCol)
        case g: GraphFamily =>
          // the raw table is read only to rescore a code graph's survivors
          Hnsw.knnJoinGraph(spark, r.indexPath,
            graft.engine.Graft.cachedRead(spark, r.basePath), g.idCol,
            r.vecCol, queries, qIdCol, qVecCol, cIdCol, k, g.ef, g.refine,
            hier = g.hier, hierMin = g.hierMin)
        case f: FlatFamily =>
          Quantize.knnJoin(graft.engine.Graft.cachedRead(spark, r.indexPath),
            r.vecCol, f.codeCol, f.idCol, f.codec, queries, qIdCol, qVecCol,
            cIdCol, k, metric, f.refine)
        case f: IvfPqFamily =>
          Ivf.knnJoinPq(spark, r.indexPath, f.model, f.pq, queries,
            qIdCol, qVecCol, cIdCol, f.idCol, r.vecCol, k, f.nprobe,
            f.refine, f.metric)
      }
      case _ =>
        import org.apache.spark.sql.functions.col
        val fits = guardUnindexedJoin(spark, basePath, queries, qVecCol)
        Knn.knnJoinArm(queries,
          graft.engine.Graft.cachedRead(spark, basePath)
            .select(col(idCol).as(cIdCol), col(vecCol)),
          qIdCol, qVecCol, cIdCol, vecCol, k, metric, fits)
    }
  }

  /** Unregistered-table joins that crossed the product threshold — spec
    * instrumentation (the warning itself goes to log4j). */
  val unindexedJoinWarnings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** ShouldUseFullscan for JOINS (r18, VERDICT r17 #6 — ref
    * knn/knn.cpp:613-620 is the per-query analog): the unregistered-table
    * fallback below is the EXACT distributed cartesian — O(|Q|·|C|) work
    * by contract, never an OOM, but at production scale a user who simply
    * forgot to register an index gets a silent cluster burner. When the
    * estimated scored-pair product crosses
    * `spark.graft.knnJoin.unindexedProductWarn` (default 1e10 ≈ minutes
    * of distance kernels on one node), log a registration
    * recommendation; with `spark.graft.knnJoin.unindexedStrict = true`
    * refuse outright. |C| comes from Parquet footers (no scan); |Q| from
    * one BOUNDED count that ALSO answers [[Knn.knnJoinArm]]'s broadcast
    * decision (the returned `fits`) — one column-free count job + one
    * first-row dim peek, instead of the guard, the dim peek, and the
    * budget probe each re-evaluating the query plan. The count cap is
    * the LESSER of the threshold-crossing rowcount and a fixed
    * de-pathologizing bound (a 10-row corpus would otherwise make the
    * "bounded" count scan ~1e9 query rows just to decide a log line; a
    * query side past the fixed bound with a corpus small enough to keep
    * the product under `warnAt` dodges the warning — the honest trade
    * for never scanning unbounded query rows in a guard). */
  private def guardUnindexedJoin(spark: SparkSession, basePath: String,
                                 queries: DataFrame,
                                 qVecCol: String): Boolean = {
    val budget = Knn.maxQueryBatch(spark, Knn.queryDim(queries, qVecCol))
    val warnAt = spark.conf
      .getOption("spark.graft.knnJoin.unindexedProductWarn")
      .flatMap(_.toDoubleOption).filter(_ > 0).getOrElse(1e10)
    val corpusRows = try graft.stats.Stats.rowCount(basePath,
      spark.sparkContext.hadoopConfiguration)
    catch { case _: Exception => -1L } // unreadable: the join will say so
    val qCross =
      if (corpusRows <= 0) 0L
      else math.min(math.min((warnAt / corpusRows).toLong + 1,
        Int.MaxValue.toLong - 2), 1L << 26)
    // budget can be conf'd near Int.MaxValue — clamp BEFORE the +1 so the
    // .toInt below can't wrap negative (mirrors Knn.fitsBudget)
    val scanCap = math.max(qCross,
      math.min(budget.toLong, Int.MaxValue.toLong - 2) + 1)
    val qRows = queries.limit(scanCap.toInt).count()
    val fits = qRows <= budget
    if (!fits) Knn.overBudgetJoins.incrementAndGet()
    if (corpusRows > 0 && qRows.toDouble * corpusRows > warnAt) {
      unindexedJoinWarnings.incrementAndGet()
      val msg = s"AnnRouting.knnJoin: $basePath has no registered ANN " +
        s"index — the fallback is an EXACT distributed cartesian of " +
        s">=$qRows query rows x $corpusRows corpus rows " +
        s"(>${warnAt.toLong} scored pairs). Register an index family " +
        "(AnnRouting.register*/buildIndex*) to serve this join at the " +
        "indexed cost, or raise spark.graft.knnJoin.unindexedProductWarn."
      if (spark.conf.getOption("spark.graft.knnJoin.unindexedStrict")
          .exists(_.equalsIgnoreCase("true")))
        throw new IllegalStateException(msg)
      log.warn(msg)
    }
    fits
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(AnnRouting.getClass)

  /** Invalidation hook for index maintenance ([[graft.vector.Ivf]] calls
    * this from buildIndex / appendToIndex): the cached analyzed index
    * relation froze its file listing at registration, so a mutated index
    * would silently drop appended vectors from routed top-k results.
    * Matching entries are removed (paths compared QUALIFIED, so spelling
    * differences cannot skip the invalidation); re-register to resume. */
  def onIndexMutated(spark: SparkSession, indexPath: String): Unit = {
    val q = qualify(spark, indexPath)
    // the per-JVM (generation dir → ADC metric) cache rides index
    // lifetimes — drop it wholesale on any mutation (tiny map, rare event)
    Ivf.invalidatePqMetricCache()
    // drop any signature-cached analyzed plans under the index (r22,
    // VERDICT r21 #5 — explicit invalidate on every write path; prefix
    // covers generation subdirs and the _route/_layers sidecars)
    graft.engine.Graft.invalidate(indexPath)
    reg.synchronized {
      epochs.put(q, epochs.getOrElse(q, 0L) + 1L)
      reg.filter(e => qualify(spark, e._2.indexPath) == q)
        .keys.foreach(reg.remove)
    }
  }

  // Mutation epoch per QUALIFIED index path (same construction as
  // IndexRouting's, ADVICE r9): register() snapshots it before its stats
  // jobs and re-checks under the lock, so an invalidation racing the
  // snapshot can never be undone by the late put.
  private val epochs =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private def epochOf(spark: SparkSession, indexPath: String): Long =
    reg.synchronized(epochs.getOrElse(qualify(spark, indexPath), 0L))

  private def putUnlessMutated(spark: SparkSession, indexPath: String,
                               epoch0: Long, base: String,
                               entry: Registered): Unit = {
    val qIdx = qualify(spark, indexPath)
    // ONE footer sweep fills BOTH the row count and the vec column's
    // null count (metadata-only; the null count gates routing — routed
    // plans emit only non-null-vector rows, while the exact plan's ASC
    // NULLS FIRST would surface null-distance rows at the top, review
    // r18-9). The register sites no longer run their own rowCount sweep:
    // at a million-file table each sweep is a full driver-side footer
    // pass, so registration pays it exactly once.
    val (rows, vecNulls) = baseFooterStats(spark, entry.basePath,
      entry.vecCol)
    val enriched = entry.copy(rows = rows, vecNulls = vecNulls)
    reg.synchronized {
      if (epochs.getOrElse(qIdx, 0L) != epoch0) return // mutated mid-snapshot
      selCache.keys.filter(_._1 == base).foreach(selCache.remove) // refresh
      reg.put(base, enriched)
    }
  }

  /** (row count, null-vector count) of the base table — CATALOG-FIRST
    * (zero footer IO when one is registered), driver footer sweep under
    * `spark.graft.ann.registerDriverMaxFiles` files (default 64),
    * distributed buildCatalog read above it (VERDICT r18 #1). The vec
    * column's list-element-path null_count upper-bounds null rows
    * (definition levels count null LISTS too), so Some(0) proves no null
    * vectors; None = stats absent/unreadable (treated as may-have-nulls —
    * routing then needs NULLS LAST or an IsNotNull filter). An IO failure
    * WARNS loudly (ADVICE r18: the silent (0, None) meant a
    * misconfigured base path registered "successfully" with a permanently
    * dead route) but still degrades rather than failing register(). */
  private def baseFooterStats(spark: SparkSession, basePath: String,
                              vecCol: String): (Long, Option[Long]) =
    try {
      val maxDriverFiles = spark.conf
        .getOption("spark.graft.ann.registerDriverMaxFiles")
        .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(64)
      graft.stats.Stats.rowsAndNulls(spark,
        graft.index.Commit.resolve(spark, basePath), vecCol, maxDriverFiles)
    } catch {
      case e: Exception =>
        log.warn(s"AnnRouting.register: stats read failed for base table " +
          s"$basePath — registering with rows=0 (the optimizer route is " +
          s"DEAD for this entry until re-registered): $e")
        (0L, None)
    }

  private[plans] def lookup(qualifiedPath: String): Option[Registered] =
    reg.get(qualifiedPath)

  // Plan-time selectivity estimates hit Parquet footers; the optimizer
  // batch runs to fixpoint and queries re-optimize per action, so cache
  // per (table, column, range) — footer stats are immutable per table
  // version, and re-registration is the refresh point.
  private val selCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Double, Double), Double]

  /** None on any IO failure — the rule then takes its documented
    * conservative exact-fullscan bypass instead of aborting the query from
    * inside the optimizer. */
  private[plans] def cachedRangeEstimate(basePath: String, col: String,
                                         lo: Double, hi: Double): Option[Double] =
    selCache.get((basePath, col, lo, hi)).orElse {
      try {
        val spark = org.apache.spark.sql.SparkSession.active
        val est = graft.stats.Stats.estimateRange(
          graft.index.Commit.resolve(spark, basePath), col, lo, hi,
          spark.sparkContext.hadoopConfiguration).toDouble
        selCache.put((basePath, col, lo, hi), est)
        Some(est)
      } catch { case _: Exception => None }
    }
}

class AnnRoutingRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import AnnRouting.Registered

  // The secondary-index router doubles as the estimator for filter shapes
  // footer stats cannot judge (string equality/ranges, IN lists) — its
  // registration-time ndv / equi-depth histogram stats answer them when
  // the filtered column has a registered index on the SAME base table.
  // One estimate source for both routers, the way the reference host's
  // CalcCount/EstimateMinMax feed every access-path decision including
  // the KNN bypass (knn.cpp:613-620 consumes the same iterator counts).
  private lazy val idxEstimator = new IndexRoutingRule(session)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // PushProjectionThroughLimit may interpose Projects between the Limit
    // and the Sort — peel them; the rewrite only swaps the scan leaf, so
    // projections above the Sort are unaffected.
    case gl @ Limit(IntegerLiteral(k), body) =>
      stripProjects(body) match {
        case Sort(order, true, child, _)
            if order.nonEmpty && order.head.direction == Ascending =>
          tryRoute(gl, k, order, child).getOrElse(gl)
        case _ => gl
      }
  }

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, c) => stripProjects(c)
    case o => o
  }

  private def tryRoute(gl: LogicalPlan, k: Int, order: Seq[SortOrder],
                       child: LogicalPlan): Option[LogicalPlan] = {
    val sortExpr = order.head.child
    // ONLY Project/Filter may sit between the Sort and the scanned
    // relation (review r18-9): an interposed Limit/Sample/Join/Aggregate
    // changes which rows are ELIGIBLE before the top-k, and swapping the
    // scan for a truncating candidate leaf would silently answer the
    // global top-k instead of the top-k of the restricted input.
    def pfOnly(p: LogicalPlan): Boolean = p match {
      case _: LogicalRelation => true
      case Project(_, c) => pfOnly(c)
      case Filter(_, c) => pfOnly(c)
      case a: SubqueryAlias => pfOnly(a.child)
      case _ => false
    }
    if (!pfOnly(child)) return None
    // exactly one parquet relation under the sort, with a registered index
    val rels = child.collect { case lr: LogicalRelation => lr }
    if (rels.size != 1) return None
    val lr = rels.head
    Routing.basePathOf(lr).flatMap(AnnRouting.lookup).flatMap { r =>
      // resolve the sort key through intermediate Project aliases
      val aliases = child.collect { case Project(pl, _) => pl }.flatten
        .collect { case a: Alias => a.exprId -> a.child }.toMap
      def resolve(e: Expression, depth: Int = 0): Expression = e match {
        case ar: AttributeReference if depth < 8 =>
          aliases.get(ar.exprId).map(resolve(_, depth + 1)).getOrElse(ar)
        case other => other
      }
      // the candidate leaves truncate to k (or k*refine) rows with ties
      // broken by id ASC, and they emit only NON-NULL-vector rows, so the
      // routed plan is exact only when (review r18-9):
      //  - any secondary sort keys are exactly (id ASC) — a DESC or
      //    foreign secondary key could pick different rows among ties at
      //    the kth-distance boundary than the truncated candidate set
      //    retained;
      //  - null vectors provably cannot reach the sort's top under ASC
      //    NULLS FIRST: footer stats count zero null vectors (the
      //    registration records this), the sort asks NULLS LAST, the
      //    column is non-nullable, or a conjunct filters IsNotNull(vec).
      def secondaryOk: Boolean = r.family.leafIdCol match {
        // the IVF leaf swap truncates nothing — the Sort above sees every
        // probed row, so any secondary keys keep their exact semantics
        case None => true
        case Some(idc) => order.tail.forall(so =>
          so.direction == Ascending && (so.child match {
            case ar: AttributeReference => ar.name == idc
            case _ => false
          }))
      }
      def nullSafeOk(vecAttr: AttributeReference): Boolean =
        r.vecNulls.contains(0L) ||
          order.head.nullOrdering == NullsLast ||
          !vecAttr.nullable ||
          child.collect { case Filter(c, _) => splitConjunctivePredicates(c) }
            .flatten
            .exists {
              case IsNotNull(a: AttributeReference) =>
                a.semanticEquals(vecAttr)
              case _ => false
            }
      matchDist(resolve(sortExpr)) match {
        case Some((metric, vecAttr, qvec))
            if metric == r.family.metric && r.rows > 0 &&
              vecAttr.name == r.vecCol && lr.outputSet.contains(vecAttr) &&
              secondaryOk && nullSafeOk(vecAttr) =>
          r.family match {
            case ivf: AnnRouting.IvfFamily if shouldRoute(child, r, ivf, k) =>
              buildRouted(gl, lr, ivf, qvec)
            // graph family: an attribute filter is CONSUMED into the beam
            // walk's allowed-id callback when its survivors are bounded
            // (ref KNNFilter_i — the host hands the iterator its filter
            // bitmap, knn/knn.h:87-94); otherwise the plan stays on the
            // always-exact filtered fullscan
            case g: AnnRouting.GraphFamily =>
              buildGraphRouted(gl, lr, r, g, qvec, k,
                child.collect { case f: Filter => f })
            // flat codecs (the reference serves whatever index type the
            // column has, knn.cpp:600-610): the filter rides INSIDE the
            // coarse screen (the coded table carries the attribute
            // columns), so the k·refine contract applies to the filtered
            // corpus
            case flat: AnnRouting.FlatFamily =>
              buildScreenRouted(gl, lr, r, flat.idCol, flat.refine,
                Quantize.FlatScreen(flat.codec, flat.codeCol, qvec.toSeq),
                flat.indexSchema, qvec, k,
                child.collect { case f: Filter => f })
            // composite IVF-ADC (r16): the probe-pruned per-list ADC
            // screen — consumed filters ride inside it, so its survivors
            // come from the filtered corpus like the flat families'
            case qf: AnnRouting.IvfPqFamily =>
              buildScreenRouted(gl, lr, r, qf.idCol, qf.refine,
                Ivf.pqScreen(qf.model, qf.pq, qvec, qf.nprobe, qf.metric),
                qf.indexSchema, qvec, k,
                child.collect { case f: Filter => f })
            case _ => None // IVF whose bypass gate chose the fullscan
          }
        case _ => None
      }
    }
  }

  /** (metric, vector attribute, query vector) of a distance sort key. */
  private def matchDist(e: Expression)
      : Option[(Knn.Metric, AttributeReference, Array[Float])] = {
    def vec(l: Literal): Option[Array[Float]] = l.dataType match {
      case ArrayType(FloatType, _) if l.value != null =>
        Some(l.value.asInstanceOf[ArrayData].toFloatArray())
      case _ => None
    }
    e match {
      case L2Distance(a: AttributeReference, l: Literal) =>
        vec(l).map((Knn.L2, a, _))
      case L2Distance(l: Literal, a: AttributeReference) =>
        vec(l).map((Knn.L2, a, _))
      case Subtract(Literal(one, _), InnerProduct(a: AttributeReference, l: Literal), _)
          if one == 1.0 => vec(l).map((Knn.IP, a, _))
      case Subtract(Literal(one, _), CosineSimilarity(a: AttributeReference, l: Literal), _)
          if one == 1.0 => vec(l).map((Knn.Cosine, a, _))
      case _ => None
    }
  }

  /** Reference routing semantics: unfiltered → index; filtered → fullscan
    * iff the estimated survivor count is small (knn/knn.cpp:613-620). */
  private def shouldRoute(child: LogicalPlan, r: Registered,
                          ivf: AnnRouting.IvfFamily, k: Int): Boolean = {
    val conds = child.collect { case Filter(c, _) => c }
    if (conds.isEmpty) true
    else estimateSelectivity(conds, r) match {
      case Some(sel) => !Knn.shouldUseFullscan(sel, r.rows, k, ivf.ef)
      case None => false // un-estimable filter: stay exact on the fullscan
    }
  }

  /** (column, lo, hi) of a range-shaped comparison against a numeric
    * literal — the footer-estimable shapes. */
  private def rangeShape(e: Expression): Option[(String, Double, Double)] = {
    def num(l: Literal): Option[Double] = l.value match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    e match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, v))
      case EqualTo(l: Literal, a: AttributeReference) =>
        num(l).map(v => (a.name, v, v))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, v, Double.PositiveInfinity))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case LessThan(a: AttributeReference, l: Literal) =>
        num(l).map(v => (a.name, Double.NegativeInfinity, v))
      case _ => None
    }
  }

  /** Upper-bound selectivity: min over the estimable conjuncts (an upper
    * bound on survivors is conservative toward routing, the same direction
    * the reference errs). Numeric range shapes answer from footer stats;
    * anything else falls back to the secondary-index registration stats
    * for that column when one exists ([[indexRegEstimate]]). */
  private def estimateSelectivity(conds: Seq[Expression],
                                  r: Registered): Option[Double] = {
    val parts = conds.flatMap(splitConjunctivePredicates)
    val footer = parts.flatMap { c =>
      rangeShape(c).flatMap { case (col, lo, hi) =>
        AnnRouting.cachedRangeEstimate(r.basePath, col, lo, hi)
          .map(_ / r.rows.toDouble)
      }
    }
    val sels = footer ++ indexRegEstimates(parts, r)
    if (sels.isEmpty) None else Some(math.min(1.0, sels.min))
  }

  /** Matching fractions from REGISTERED SECONDARY INDEXES on the same
    * base table (ndv points / equi-depth histogram ranges) — the estimate
    * source for string shapes. Same-column conjuncts are estimated as ONE
    * group so a BETWEEN merges into a single interval (estimating each
    * side alone loses the intersection — review r10-3); restricted to
    * single-column conjuncts whose column IS an index's value column,
    * because the underlying estimator judges shapes, not bindings. */
  private def indexRegEstimates(parts: Seq[Expression],
                                r: Registered): Seq[Double] =
    parts.groupBy(_.references.toSeq match {
      case Seq(a) => Some(a.name)
      case _ => None
    }).toSeq.flatMap {
      case (Some(colName), group) =>
        IndexRouting.lookup(r.basePath).filter(_.valueCol == colName)
          .flatMap { ir =>
            // merged-group first (BETWEEN intersects); if an un-estimable
            // member voids the group, fall back to the best single-conjunct
            // estimate — still a valid upper bound, and a filter must not
            // become un-estimable just because one extra conjunct on the
            // same column is an unsupported shape (review r10-4)
            idxEstimator.combinedEstimate(group, ir).orElse(
              group.flatMap(c => idxEstimator.combinedEstimate(Seq(c), ir))
                .minOption)
          }
          .minOption
      case _ => None
    }

  /** Swap the base relation for the probe-filtered index relation, keeping
    * the original output attribute ids via aliases. */
  private def buildRouted(gl: LogicalPlan, lr: LogicalRelation,
                          ivf: AnnRouting.IvfFamily,
                          qvec: Array[Float]): Option[LogicalPlan] = {
    // fresh instance per injection: a query routing the same index twice
    // (union of two top-ks) must not carry duplicate exprIds (review r10)
    val idxPlan = Routing.fresh(ivf.indexPlan)
    val byName = idxPlan.output.map(a => a.name -> a).toMap
    if (!lr.output.forall(a => byName.contains(a.name))) return None
    val clusterAttr = byName.get("ivf_cluster") match {
      case Some(a) => a
      case None => return None
    }
    val probes = ivf.model.probeSet(qvec, ivf.nprobe)
    val filtered = Filter(
      In(clusterAttr, probes.map(p => Literal(p))), idxPlan)
    val mapped = Project(
      lr.output.map(a => Alias(byName(a.name), a.name)(exprId = a.exprId)),
      filtered)
    Some(gl.transformUp {
      case l: LogicalRelation if l eq lr => mapped
    })
  }

  /** A non-null numeric (incl. date/timestamp internals) or string
    * literal. */
  private def simpleLit(l: Literal): Boolean =
    l.value != null && (l.value.isInstanceOf[java.lang.Number] ||
      l.dataType == org.apache.spark.sql.types.StringType)

  /** Conjunct shapes a candidate leaf consumes: numeric range shapes,
    * plus string/typed-literal comparisons and literal IN lists (r10-2 —
    * with the index-registration estimate fallback these are estimable
    * too, so string-filtered ANN routes). */
  private def consumableShape(e: Expression): Boolean = e match {
    case _ if rangeShape(e).isDefined => true
    case EqualTo(_: AttributeReference, l: Literal) => simpleLit(l)
    case EqualTo(l: Literal, _: AttributeReference) => simpleLit(l)
    case GreaterThan(_: AttributeReference, l: Literal) => simpleLit(l)
    case GreaterThan(l: Literal, _: AttributeReference) => simpleLit(l)
    case GreaterThanOrEqual(_: AttributeReference, l: Literal) => simpleLit(l)
    case GreaterThanOrEqual(l: Literal, _: AttributeReference) => simpleLit(l)
    case LessThan(_: AttributeReference, l: Literal) => simpleLit(l)
    case LessThan(l: Literal, _: AttributeReference) => simpleLit(l)
    case LessThanOrEqual(_: AttributeReference, l: Literal) => simpleLit(l)
    case LessThanOrEqual(l: Literal, _: AttributeReference) => simpleLit(l)
    case In(_: AttributeReference, vs) => vs.nonEmpty && vs.forall {
      case l: Literal => simpleLit(l)
      case _ => false
    }
    case _ => false
  }

  /** The CONSUMABLE-filter check shared by the graph and screen filtered
    * routes: every conjunct a consumable shape or IsNotNull over a base
    * column, all deterministic. Returns the combined condition, which the
    * leaf's scans evaluate as it stands (rebound by column name). */
  private def consumableCond(filters: Seq[Filter],
                             lr: LogicalRelation): Option[Expression] = {
    val conds = filters.map(_.condition)
    val servable = conds.flatMap(splitConjunctivePredicates).forall {
      case IsNotNull(a: AttributeReference) => lr.outputSet.contains(a)
      case e => consumableShape(e) &&
        e.references.forall(lr.outputSet.contains)
    }
    if (!servable || !conds.forall(_.deterministic)) None
    else Some(conds.reduce(And))
  }

  /** The base columns a candidate leaf must supply: those any expression
    * inside the matched subtree consumes — except inside `excluded`
    * (consumed Filter nodes, satisfied by the leaf's own scan) — and those
    * escaping through the subtree's output (a bare orderBy().limit() with
    * no pruning Project delivers every column to the user; null-filling
    * those would be a visible wrong result, review r10). */
  private def referencedCols(gl: LogicalPlan, lr: LogicalRelation,
                             excluded: Seq[Filter]): Seq[Attribute] = {
    val referenced = AttributeSet(
      gl.collect {
        case n if !(n eq lr) && !excluded.exists(_ eq n) => n.expressions
      }.flatten.flatMap(_.references)) ++ gl.outputSet
    lr.output.filter(referenced.contains)
  }

  /** The graph leaf-swap gate, shared by the unfiltered and filtered
    * routes: only (id, vector) may be required ([[referencedCols]]), the
    * id must be a long, the vector a float array, and every other column
    * nullable. */
  private def graphGateOk(gl: LogicalPlan, lr: LogicalRelation,
                          r: Registered, idCol: String,
                          excluded: Seq[Filter]): Boolean = {
    val requiredNames = referencedCols(gl, lr, excluded).map(_.name).toSet
    val idOk = lr.output.find(_.name == idCol)
      .exists(_.dataType == org.apache.spark.sql.types.LongType)
    val vecOk = lr.output.find(_.name == r.vecCol).exists(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    val fillable = lr.output.forall(a =>
      a.name == idCol || a.name == r.vecCol || a.nullable)
    requiredNames.subsetOf(Set(idCol, r.vecCol)) && idOk && vecOk && fillable
  }

  /** Swap the base relation for the graph family's routed-candidate leaf
    * (same exprIds — the Sort/Limit above recomputes exact distances from
    * the carried vectors). The graph table supplies only (id, vector), so
    * the route refuses when anything ABOVE the scan references another
    * column; unreferenced base columns ride along as nulls (they must be
    * nullable — never read, but the schema contract stays honest). A
    * quantized leaf runs the code-space walk and fetches the k·refine
    * coarse survivors' raw vectors from the base table.
    *
    * K3 automatic: a `Filter` is CONSUMED into the routed walk's allowed-id
    * callback (the reference host computes the filter bitmap and hands it
    * to the KNN iterator, knn/knn.h:87-94; HNSWFilterWrapper_c
    * knn.cpp:90-97 — traversal crosses disallowed nodes, only allowed
    * enter the beam, over-probing keeps k survivors). Route only when
    *  - every conjunct is a consumable estimable shape (numeric ranges
    *    from footer stats; string/typed comparisons and IN lists from the
    *    column's registered secondary-index stats) or an inferred
    *    IsNotNull over a base column — the whole condition is then
    *    re-evaluated DISTRIBUTED by the leaf's id job, so consuming all
    *    of them is semantics-preserving;
    *  - the estimate bounds survivors by `maxFilterIds` (the broadcast-set
    *    budget; index-stat estimates are uniform-assumption, so the leaf
    *    re-checks the ACTUAL cardinality at execution and falls back to
    *    the exact distributed top-k when skew blows the budget — unlike
    *    the reference there is no selective-end fullscan bypass here,
    *    because a Spark "fullscan" of few survivors still scans every
    *    vector, not a rowid fetch; the semi-join stand-down happens
    *    upstream when IndexRoutingRule consumes the filter first);
    *  - outside the consumed filters, only (id, vector) are referenced and
    *    the filter columns do not escape the matched subtree's output
    *    (they are pruned above the consumed Filter, else null-fill would
    *    show). */
  private def buildGraphRouted(gl: LogicalPlan, lr: LogicalRelation,
                               r: Registered, g: AnnRouting.GraphFamily,
                               qvec: Array[Float], k: Int,
                               filters: Seq[Filter]): Option[LogicalPlan] = {
    val cond = if (filters.isEmpty) None else consumableCond(filters, lr) match {
      case None => return None
      case c => c
    }
    val conds = filters.map(_.condition)
    if (cond.isDefined && !estimateSelectivity(conds, r)
        .exists(_ * r.rows.toDouble <= g.maxFilterIds.toDouble)) return None
    if (!graphGateOk(gl, lr, r, g.idCol, excluded = filters)) return None
    val walk = GraphWalk(r.indexPath, r.basePath, g.ef,
      maxIds = if (cond.isDefined) g.maxFilterIds else Long.MaxValue,
      adaptive = g.adaptive, quantized = g.quantized, refine = g.refine,
      hier = g.hier, hierMin = g.hierMin)
    val leaf = AnnCandidates(walk, g.idCol, r.vecCol, qvec.toSeq, k,
      lr.output, cond)
    // transformUp rebuilds parents after the leaf swap, so the consumed
    // Filter nodes are copies — match them by their (unchanged)
    // condition, not by reference
    Some(gl.transformUp {
      case l: LogicalRelation if l eq lr => leaf
      case f: Filter if conds.exists(_ fastEquals f.condition) => f.child
    })
  }

  /** Swap the base relation for the code-screen candidate leaf (same
    * exprIds — the untouched Sort/Limit above IS the exact rescore of the
    * k·refine survivors' carried vectors). The leaf reads, from the coded
    * table, every base column the plan references plus any non-nullable
    * one; it refuses when the table lacks one of them (or holds it under
    * another type), or when the id is not integral (the screen's
    * tiebreak, as the explicit screens cast it).
    *
    * FILTERED (K3): the coded table carries the base attribute columns, so
    * an attribute filter rides INSIDE the screen's scan (`filter → code
    * distance → top k·refine`) — the k·refine serving contract then holds
    * over the FILTERED corpus, the in-traversal semantics (never a
    * post-screen filter that could under-return). The original Filter
    * nodes stay in the plan (they re-verify survivors — exact and free).
    * Refused for non-consumable filter shapes. */
  private def buildScreenRouted(gl: LogicalPlan, lr: LogicalRelation,
                                r: Registered, idCol: String, refine: Int,
                                screen: Quantize.Screen, schema: StructType,
                                qvec: Array[Float], k: Int,
                                filters: Seq[Filter]): Option[LogicalPlan] = {
    val cond = if (filters.isEmpty) None else consumableCond(filters, lr) match {
      case None => return None
      case c => c
    }
    def integral(t: DataType): Boolean = t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val idAttr = lr.output.find(_.name == idCol)
    val read = (referencedCols(gl, lr, excluded = Nil) ++
      lr.output.filterNot(_.nullable) ++ idAttr).distinct
    val served = read.forall(a =>
      types.get(a.name).exists(DataTypeUtils.sameType(_, a.dataType)))
    if (!served || !idAttr.exists(a => integral(a.dataType)) ||
        !screen.columns.forall(types.contains)) return None
    val leaf = AnnCandidates(CodeScreen(r.indexPath, screen, refine,
      read.map(_.name)), idCol, r.vecCol, qvec.toSeq, k, lr.output, cond)
    Some(gl.transformUp { case l: LogicalRelation if l eq lr => leaf })
  }
}
