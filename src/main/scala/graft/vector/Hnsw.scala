package graft.vector

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

/** Partitioned graph ANN — the Spark shape of the reference's headline HNSW
  * index (hnswlib: knn/knn.cpp:221 build, :455-537 search; SURVEY M4).
  *
  * The reference holds ONE navigable-small-world graph per segment in
  * mmap'd memory. A 100 TB vector column cannot be one graph; the engine's
  * analog is graph-per-partition: vectors are deterministically sharded
  * into P sub-graphs, each built independently inside `mapPartitions`
  * (genuine per-partition imperative logic — the sanctioned RDD-style
  * escape), stored as an ordinary Parquet table `(pid, id, vec, neighbors)`.
  * Search fans the query to every sub-graph, takes top-k per graph with a
  * beam search, and merges with the same `orderBy(dist, id).limit(k)`
  * contract as [[Knn.knn]] — a k-row-per-partition driver merge, no
  * shuffle of the vectors themselves.
  *
  * Graph shape: single-layer NSW by default (the reference's layer-0 with
  * a fixed entry point — at sub-graph sizes of 10^5-10^6 rows the
  * hierarchy buys one hop, BENCH_SF1 walk_telemetry), with the full layer
  * hierarchy available as an OPT-IN sidecar ([[buildHierarchy]] /
  * [[searchRoutedHier]]; code-space twin for the quantized family) for
  * deployments whose sub-graphs grow past that regime. Insertion in
  * ascending-id order; each node's links come from the ef-construction beam through the
  * PUBLISHED diversity heuristic (Malkov Algorithm 4 — plain m-nearest
  * collapses into cliques on duplicate-heavy data, see selectDiverse), plus
  * an UNPRUNED chain edge to its insertion predecessor, which keeps every
  * sub-graph connected — so `ef >= |partition|` degenerates to an EXACT
  * exhaustive walk (the oracle-checked configuration, same move as IVF's
  * nprobe=nlist), while small ef gives the usual logarithmic search with
  * spec-tested recall (1.0@ef=32 on the decorrelated 10× corpus,
  * BENCH_SF1). Opt-in P²-quantile adaptive termination
  * ([[Quantile.Termination]]) trims beam exhaustion further.
  *
  * Determinism: insertion order, distance ties, beam membership and the
  * final merge all tie-break on id, so results are a function of the data
  * and parameters only.
  */
object Hnsw {

  /** @param m          max non-chain edges kept per node (hnswlib M)
    * @param efC        construction beam width (hnswlib efConstruction)
    * @param partitions sub-graph count; pid = id mod partitions */
  final case class Params(m: Int = 8, efC: Int = 64, partitions: Int = 4)

  private val graphSchema = StructType(Seq(
    StructField("pid", IntegerType),
    StructField("id", LongType),
    StructField("vec", ArrayType(FloatType)),
    StructField("neighbors", ArrayType(LongType))))

  /** The NODE SPACE a sub-graph is built and walked in — the Spark analog
    * of the reference's space-interface selection (knn/knn.cpp:105-135:
    * `HNSWDist_c` hands hnswlib a RAW or a QUANTIZED space from the same
    * ctor; quantizer.cpp supplies the latter). `V` is the stored payload
    * per node; `dist` scores it against a float query; `toQuery` lifts a
    * payload to query form (identity for floats, dequantize for codes) so
    * build-time node-to-node distances go through the same kernel. */
  private[vector] trait Space[V] extends Serializable {
    def dist(v: V, q: Array[Float]): Double
    def toQuery(v: V): Array[Float]
  }

  private[vector] final class FloatSpace(metric: Knn.Metric)
      extends Space[Array[Float]] {
    def dist(v: Array[Float], q: Array[Float]): Double =
      Ivf.scalarDist(metric, v, q)
    def toQuery(v: Array[Float]): Array[Float] = v
  }

  /** int8-code space: the graph holds dim-byte codes (4× smaller resident
    * set than float32) and every walk distance dequantizes inline —
    * identical arithmetic to [[Quantize.QModel.l2]]'s coarse screen. */
  private[vector] final class CodeSpace(m: Quantize.QModel)
      extends Space[Array[Byte]] {
    def dist(v: Array[Byte], q: Array[Float]): Double = m.l2(v, q)
    def toQuery(v: Array[Byte]): Array[Float] =
      Array.tabulate(m.dim)(i => m.dequantize(v(i), i))
  }

  /** One partition's nodes, id-ascending, with primitive adjacency: node
    * i's neighbours are `adj(i)(0 until deg(i))`, in insertion order
    * during [[build]] and ascending after [[rehydrate]]. A sub-graph is
    * walked by one task at a time: [[searchBeam]] reuses its candidate
    * heap and visited marks. */
  private[vector] final class SubGraph[V](val ids: Array[Long],
                                          val vecs: Array[V],
                                          val space: Space[V]) {
    val n: Int = ids.length
    private val adj: Array[Array[Int]] = Array.fill(n)(Array.emptyIntArray)
    private val deg: Array[Int] = new Array[Int](n)

    def neighbors(i: Int): Array[Int] =
      if (adj(i).length == deg(i)) adj(i)
      else java.util.Arrays.copyOf(adj(i), deg(i))

    /** Node i's neighbour ids ascending — the stored graph-table form. */
    def neighborIds(i: Int): Seq[Long] = {
      val out = new Array[Long](deg(i))
      var j = 0
      while (j < out.length) { out(j) = ids(adj(i)(j)); j += 1 }
      java.util.Arrays.sort(out)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }

    private def addEdge(i: Int, j: Int): Unit = {
      if (deg(i) == adj(i).length)
        adj(i) = java.util.Arrays.copyOf(adj(i), math.max(4, deg(i) * 2))
      adj(i)(deg(i)) = j
      deg(i) += 1
    }

    private[vector] def setNeighbors(i: Int, nbrs: Array[Int]): Unit = {
      adj(i) = nbrs; deg(i) = nbrs.length
    }

    /** Index of `id` among the ascending [[ids]], or -1. */
    def indexOf(id: Long): Int = {
      val p = java.util.Arrays.binarySearch(ids, id)
      if (p >= 0) p else -1
    }

    private def d(i: Int, q: Array[Float]): Double =
      space.dist(vecs(i), q)

    /** Node-to-query distance through the space kernel — exposed for the
      * hierarchy descent ([[descend]]), which must score upper-layer
      * nodes with exactly the kernel the layer-0 beam uses. */
    def nodeDist(i: Int, q: Array[Float]): Double = d(i, q)

    // walk scratch, reused across searches: the candidate min-heap and
    // hnswlib-style visited marks (a node is visited iff its mark equals
    // the current walk's stamp, so nothing is cleared between walks)
    private val cand = new TopK.PairHeap(64, maxFirst = false)
    private val visited = new Array[Int](n)
    private var stamp = 0

    /** Beam search over the first `upTo` inserted nodes (the graph so far
      * during build; the whole graph when upTo = n). Returns the result
      * heap sorted ascending by (dist, idx) — `value(j)` the distance,
      * `id(j)` the node index — at most ef entries; every reachable node
      * when ef >= upTo (the chain edges make all of them reachable).
      * Candidates and results are primitive (dist, idx) heaps under
      * `java.lang.Double.compare`, then the index — the hnswlib shape
      * (knn/knn.cpp:455-537: two candidate heaps plus a visited list).
      *
      * `allowed` is K3's in-traversal filter (ref KNNFilter_i::IsAllowed,
      * knn/knn.h:87-94 wrapped for hnswlib by HNSWFilterWrapper_c,
      * knn.cpp:90-97): traversal EXPANDS through disallowed nodes (they
      * keep the graph connected) but only allowed ones enter the result
      * beam. With ef >= upTo the result is exactly the allowed subset —
      * the bound never prunes, because the result heap holds at most the
      * allowed count <= ef entries.
      *
      * `term`, when non-null, is the reference's ADAPTIVE termination
      * (knn/termination.h:23-52): each expansion round reports its
      * discovery rate, and `patience` consecutive rounds below the moving
      * P² quantile of that rate end the walk before beam exhaustion —
      * opt-in, so the exact (full-ef) contract of every gate is
      * untouched.
      *
      * `counters`, when non-null, receives walk telemetry: counters(0) +=
      * nodes EXPANDED (dequeued with their adjacency scanned — the "hops"
      * a walk takes), counters(1) += distances scored. Measurement only;
      * never changes the walk. This is the engine's analog of the
      * reference's opt-in per-search stats (knn/knn.h:76-79
      * SearchStats_t::m_iDistanceComputations, collected when
      * CreateIterator's bCollectMetrics is set, knn/iterator.cpp:35):
      * callers pass a `scoredAcc` LongAccumulator to the public search
      * entry points and read distances-scored across the distributed
      * walk the way the host reads Iterator_i::GetStats().
      *
      * `entry` is the layer-0 start node — node 0 (the lowest id, the flat
      * NSW convention) unless a hierarchy descent ([[descend]]) supplies a
      * closer one. At ef >= upTo the walk is exhaustive either way (chain
      * edges reach every node from any entry), so the exact contract of
      * every full-ef gate is entry-independent. */
    def searchBeam(q: Array[Float], ef: Int, upTo: Int,
                   allowed: Int => Boolean = _ => true,
                   term: Quantile.Termination = null,
                   counters: Array[Long] = null,
                   entry: Int = 0): TopK.BoundedTopK = {
      val res = new TopK.BoundedTopK(ef)
      if (upTo == 0) return res
      stamp += 1
      if (stamp == 0) { java.util.Arrays.fill(visited, 0); stamp = 1 }
      cand.clear()
      val d0 = d(entry, q)
      cand.push(d0, entry); visited(entry) = stamp
      if (allowed(entry)) res.offer(d0, entry)
      while (!cand.isEmpty) {
        val cd = cand.topValue
        val c = cand.topId.toInt
        cand.pop()
        // stop once the nearest candidate lies past the worst result kept
        if (res.isFull && TopK.before(res.topValue, res.topId, cd, c))
          cand.clear()
        else if (term != null && term.shouldTerminate(ef, res.size)) {
          cand.clear()
        }
        else {
          if (counters != null) counters(0) += 1
          val nb = adj(c)
          var j = 0
          while (j < deg(c)) {
            val e = nb(j)
            if (e < upTo && visited(e) != stamp) {
              visited(e) = stamp
              val de = d(e, q)
              if (counters != null) counters(1) += 1
              if (term != null) term.onDistanceScored()
              if (res.admits(de, e)) {
                cand.push(de, e)
                if (allowed(e)) {
                  res.offer(de, e)
                  if (term != null) term.onCandidateCollected()
                }
              }
            }
            j += 1
          }
        }
      }
      res.sortInPlace()
    }

    /** The published HNSW neighbor-selection heuristic (Malkov & Yashunin
      * Algorithm 4, with keepPrunedConnections): walk candidates ascending
      * by distance to the base point and keep one only if it is STRICTLY
      * closer to the base than to every already-kept neighbor; remaining
      * slots fill from the rejected, nearest first. Plain m-nearest
      * selection collapses on duplicate-heavy data — a group of identical
      * vectors absorbs every link (all at distance 0), fragmenting the
      * graph into cliques connected only by the chain path, and beam
      * recall craters (the r13 BENCH_SF1 recall gate measured 0.69@ef=64
      * on 10×-replicated vectors; the diversity rule is the published fix
      * and restores it). `cands` holds (distance to the base, index)
      * pairs sorted ascending. */
    private def selectDiverse(cands: TopK.BoundedTopK, m: Int): Array[Int] = {
      // kept entries cache their query-form payload: each new candidate is
      // scored against every kept neighbor through the space kernel
      val len = cands.size
      val keptQ = new Array[Array[Float]](m)
      val out = new Array[Int](math.min(m, len))
      val rejected = new Array[Int](len)
      var kept = 0
      var nRej = 0
      var j = 0
      while (j < len && kept < m) {
        val dc = cands.value(j)
        val c = cands.id(j).toInt
        var diverse = true
        var t = 0
        while (diverse && t < kept) {
          diverse = dc < space.dist(vecs(c), keptQ(t))
          t += 1
        }
        if (diverse) {
          keptQ(kept) = space.toQuery(vecs(c)); out(kept) = c; kept += 1
        } else { rejected(nRej) = c; nRej += 1 }
        j += 1
      }
      val fill = math.min(m - kept, nRej)
      System.arraycopy(rejected, 0, out, kept, fill)
      if (kept + fill == out.length) out
      else java.util.Arrays.copyOf(out, kept + fill)
    }

    /** NSW insert-all: id-ascending, heuristic-selected links from the
      * construction beam (diverse, not just nearest) + an unpruned chain
      * edge to the predecessor (connectivity). */
    def build(m: Int, efC: Int): Unit = {
      var i = 1
      while (i < n) {
        val near = searchBeam(space.toQuery(vecs(i)), efC, i)
        val links = selectDiverse(near, m)
        val chain = i - 1
        val mine = if (links.contains(chain)) links else links :+ chain
        mine.foreach { j =>
          addEdge(i, j)
          addEdge(j, i)
          // prune j's NON-chain edges back to m with the same diversity
          // heuristic (chain edges j-1 and j+1 are load-bearing for
          // connectivity — never pruned)
          if (deg(j) > m + 2) prune(j, m)
        }
        i += 1
      }
    }

    /** Re-select j's non-chain edges by [[selectDiverse]] over their
      * (distance to j, index) order; chain edges stay first, in place
      * order. */
    private def prune(j: Int, m: Int): Unit = {
      val nb = adj(j)
      val dg = deg(j)
      val chainE = new Array[Int](dg)
      var nChain = 0
      val jq = space.toQuery(vecs(j))
      val rest = new TopK.BoundedTopK(dg)
      var t = 0
      while (t < dg) {
        val e = nb(t)
        if (e == j - 1 || e == j + 1) { chainE(nChain) = e; nChain += 1 }
        else rest.offer(space.dist(vecs(e), jq), e)
        t += 1
      }
      val kept = selectDiverse(rest.sortInPlace(), m)
      val out = new Array[Int](nChain + kept.length)
      System.arraycopy(chainE, 0, out, 0, nChain)
      System.arraycopy(kept, 0, out, nChain, kept.length)
      setNeighbors(j, out)
    }
  }

  /** Identity partitioner over pid ∈ [0, n): exactly ONE sub-graph per
    * Spark partition. A hash `repartition(n, col)` maps pids by
    * murmur3 % n, colliding sub-graphs into the same task (2x task memory
    * and build time) while leaving others empty. */
  private final class PidPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  private def buildOne(rows: Seq[(Long, Array[Float])], pid: Int,
                       p: Params, metric: Knn.Metric): Iterator[Row] = {
    val sorted = rows.sortBy(_._1).toArray
    val g = new SubGraph(sorted.map(_._1), sorted.map(_._2),
      new FloatSpace(metric))
    g.build(p.m, p.efC)
    (0 until g.n).iterator.map { i =>
      Row(pid, g.ids(i), g.vecs(i).toSeq, g.neighborIds(i))
    }
  }

  /** Shuffle `(pid, id, vec)` rows into one Spark partition per pid, build
    * each sub-graph there, write the graph table range-clustered by
    * (pid, id). */
  private def writeGraph(df: DataFrame, pidCol: org.apache.spark.sql.Column,
                         vecCol: String, idCol: String, path: String,
                         p: Params, metric: Knn.Metric): Unit = {
    import df.sparkSession.implicits._
    val keyed = df
      .select(pidCol.cast("int").as("pid"),
        col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Int, Long, Array[Float])]
      .rdd.map(t => (t._1, (t._2, t._3)))
      .partitionBy(new PidPartitioner(p.partitions))
    val rowRdd = keyed.mapPartitionsWithIndex { (pid, it) =>
      val rows = it.map(_._2).toSeq
      if (rows.isEmpty) Iterator.empty
      else buildOne(rows, pid, p, metric)
    }
    val graph = df.sparkSession.createDataFrame(rowRdd, graphSchema)
    graft.tables.Writer.write(graph, path, sortBy = Seq("pid", "id"),
      files = p.partitions)
  }

  /** Build the partitioned graph index and write it as a Parquet table,
    * range-clustered by (pid, id). One shuffle of (id, vec); the graph
    * construction is per-partition CPU work with no driver involvement.
    * A sub-graph (ids, vectors, adjacency) must fit one task's memory —
    * the same residency assumption as the reference's mmap'd hnswlib. */
  def buildIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
                 p: Params = Params(), metric: Knn.Metric = Knn.L2): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    require(graft.index.SecondaryIndex.manifestVersions(fs, path).isEmpty,
      s"$path is manifest-managed: readers resolve through the manifest, " +
        "so a plain rebuild at the base path would be silently ignored")
    // a rebuild at the same path leaves any prior CLUSTERED build's
    // sidecars stale (route rows and layer rows name the old build's
    // pids/ids — hasHierarchy would pass yet the descent would crash or
    // silently mis-walk; review r15-5). Sweep them BEFORE the graph write
    // (ADVICE r16-1): every crash interleaving then leaves either the old
    // consistent pair or a sidecar-less index that fails/falls back
    // loudly, never a new flat graph paired with the old build's
    // centroids/radii (the silent mis-prune).
    fs.delete(new org.apache.hadoop.fs.Path(routePath(path)), true)
    fs.delete(new org.apache.hadoop.fs.Path(layersPath(path)), true)
    writeGraph(df, pmod(col(idCol).cast("long"), lit(p.partitions)),
      vecCol, idCol, path, p, metric)
    invalidate(path)
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
  }

  /** CLUSTERED build + centroid routing sidecar (ADVICE r7: plain
    * [[search]] beams every sub-graph — O(total N) work per query; the
    * reference's single mmap'd HNSW descends through entry points in
    * O(log N), knn/knn.cpp:455-537. With id-mod sharding nothing better is
    * possible — every shard looks like the whole dataset — so the routed
    * path shards by a k-means coarse quantizer instead: pid = nearest of
    * `partitions` trained centroids, making sub-graphs spatially coherent).
    * A sidecar table `<path>_route` stores each sub-graph's (pid, centroid,
    * L2 radius); [[searchRouted]] probes sub-graphs in centroid-distance
    * order and stops via the triangle bound — typically touching O(1)
    * sub-graphs on clustered data while staying EXACT.
    *
    * Returns the trained coarse model (callers that also want IVF-style
    * probing can reuse it; searchRouted itself reads the sidecar). */
  def buildIndexClustered(df: DataFrame, vecCol: String, idCol: String,
                          path: String, p: Params = Params(),
                          metric: Knn.Metric = Knn.L2): Ivf.Model = {
    // mixing build-at-base with the manifest commit scheme would strand
    // readers on the committed generation (same guard as
    // SecondaryIndex.compact) — a manifest-managed index is maintained
    // through appendSegment/compactClustered
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    require(graft.index.SecondaryIndex.manifestVersions(fs, path).isEmpty,
      s"$path is manifest-managed: use compactClustered, not a rebuild " +
        "at the base path (readers resolve through the manifest)")
    // sweep the PRIOR build's sidecars BEFORE the new graph lands (ADVICE
    // r16-1, same ordering as [[buildIndex]]): layer rows and route rows
    // name the old build's pids/ids, and a crash between the graph write
    // and a post-hoc sweep would pair the new graph with them — a silent
    // mis-descent/mis-prune. Delete-first leaves every crash interleaving
    // either fully old or loudly sidecar-less (searchRouted/hier fail with
    // their missing-sidecar message until the rebuild is retried).
    fs.delete(new org.apache.hadoop.fs.Path(layersPath(path)), true)
    fs.delete(new org.apache.hadoop.fs.Path(routePath(path)), true)
    val m = buildClusteredTo(df, vecCol, idCol, path, routePath(path), p, metric)
    // a rebuild at the same path invalidates the resident copy and any
    // automatic-routing entry that froze the old graph (same contract as
    // Ivf.buildIndex)
    invalidate(path)
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
    m
  }

  /** The clustered build against explicit target dirs — shared by
    * [[buildIndexClustered]] (base-path layout) and [[compactClustered]]
    * (immutable generation dirs). */
  private def buildClusteredTo(df: DataFrame, vecCol: String, idCol: String,
                               graphDir: String, routeDir: String, p: Params,
                               metric: Knn.Metric): Ivf.Model = {
    // The routing bound lives in an L2 space: raw vectors for L2, the
    // unit-normalized companion for cosine (cosDist of a unit pair is half
    // its squared L2 distance — same move as Ivf.searchAdaptiveCosine),
    // the MIPS→L2 augmented companion [v, √(M²−‖v‖²)] for IP (r19 —
    // Bachrach et al. 2014; augmented-L2 order is exactly monotone in
    // ⟨q,v⟩, so the triangle bound converts to an exact 1−dot bound).
    val ipM2 = if (metric == Knn.IP) Ivf.maxSumsq(df, vecCol) else 0.0
    val boundCol = if (metric == Knn.L2) vecCol else "__vbound"
    val base = if (metric == Knn.L2) df
               else df.withColumn(boundCol,
                 Quantize.boundSpaceCol(metric, col(vecCol), ipM2))
    val m = Ivf.train(base, boundCol, nlist = p.partitions, metric = Knn.L2)
    // persisted: the graph write and the radius aggregation are separate
    // actions, and the assignment (normalize + nearest-of-nlist per row)
    // is a full corpus pass that must not run twice
    val assigned = Ivf.assign(base, boundCol, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // sub-graphs store and beam-search the RAW vectors under `metric`
      // (for IP the walk's 1−dot values order exactly as augmented L2,
      // and hnswlib builds its IP graphs over the raw ip distance too —
      // knn/knn.cpp:105-135 hands hnswlib an InnerProductSpace)
      writeGraph(assigned, col("ivf_cluster"), vecCol, idCol, graphDir, p, metric)
      writeRouteSidecar(assigned, boundCol, m, routeDir, metric,
        if (metric == Knn.IP) Some(math.sqrt(ipM2)) else None)
      m
    } finally assigned.unpersist(false)
  }

  /** Route-sidecar writer shared by the raw and quantized clustered
    * builds: per-pid (centroid, max bound-space L2 radius, metric). */
  private def writeRouteSidecar(assigned: DataFrame, boundCol: String,
                                m: Ivf.Model, routeDir: String,
                                metric: Knn.Metric,
                                ipMaxNorm: Option[Double]): Unit = {
    val cents = typedLit(m.centroids.map(_.toSeq))
    val route = assigned
      .select(col("ivf_cluster").cast("int").as("pid"),
        distances.l2Dist(col(boundCol),
          element_at(cents, col("ivf_cluster").cast("int") + 1)
            .cast("array<float>")).as("d"))
      .groupBy("pid").agg(max(col("d")).as("radius"))
      .withColumn("centroid",
        element_at(cents, col("pid") + 1).cast("array<float>"))
      .withColumn("metric", lit(metricName(metric)))
      // the IP augmentation bound M rides every row (the graph family's
      // metric marker — Ivf's ADC family stores its M the same way)
      .withColumn("max_norm",
        ipMaxNorm.map(lit(_)).getOrElse(lit(null)).cast("double"))
    graft.tables.Writer.write(route, routeDir, sortBy = Seq("pid"))
  }

  /** Segment-append route rows for new pids `offset + cluster` — shared
    * by the raw and quantized segment appends (one definition of the
    * sidecar row shape, next to [[writeRouteSidecar]]'s). */
  private def appendRouteRows(assigned: DataFrame, boundCol: String,
                              cents: Seq[Array[Float]], offset: Int,
                              metric: Knn.Metric, routeDir: String,
                              ipMaxNorm: Option[Double]): Unit = {
    val centsLit = typedLit(cents.map(_.toSeq))
    val route = assigned
      .select((col("ivf_cluster").cast("int") + offset).as("pid"),
        distances.l2Dist(col(boundCol),
          element_at(centsLit, col("ivf_cluster").cast("int") + 1)
            .cast("array<float>")).as("d"))
      .groupBy("pid").agg(max(col("d")).as("radius"))
      .withColumn("centroid",
        element_at(centsLit, col("pid") - offset + 1).cast("array<float>"))
      .withColumn("metric", lit(metricName(metric)))
      // appends carry the BUILD's M verbatim — a batch-local re-estimate
      // would put the segment in a different augmented space
      .withColumn("max_norm",
        ipMaxNorm.map(lit(_)).getOrElse(lit(null)).cast("double"))
    route.write.mode("append").parquet(routeDir)
  }

  /** Sidecar location for the routing table of a clustered graph index. */
  def routePath(indexPath: String): String = indexPath + "_route"

  /** Current (graph dir, route dir) of a clustered index — the single
    * read-side entry point ([[loadGraph]]/[[routes]]/[[appendSegment]] go
    * through it; the same role as
    * [[graft.index.SecondaryIndex.resolve]]). Resolution order: highest
    * valid manifest version (`<path>_manifest/v<N>` naming an existing
    * generation dir, which holds `graph/` + `route/` subdirs —
    * [[compactClustered]]'s commit protocol); else the legacy base pair
    * `(<path>, <path>_route)` — refusing a SUPERSEDED base loudly, because
    * serving it after a manifest-dir loss would be silent stale data. */
  def resolveDirs(spark: SparkSession, indexPath: String): (String, String) = {
    import graft.index.SecondaryIndex.{manifestVersions, readSmallFile, SupersededMarker}
    val base = new org.apache.hadoop.fs.Path(indexPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestVersions(fs, indexPath).foreach { case (_, vfile) =>
      val content = readSmallFile(fs, vfile)
      if (content.nonEmpty) {
        val gen = new org.apache.hadoop.fs.Path(base.getParent, content)
        if (fs.exists(gen))
          return (new org.apache.hadoop.fs.Path(gen, "graph").toString,
            new org.apache.hadoop.fs.Path(gen, "route").toString)
      }
    }
    val superseded =
      try fs.exists(new org.apache.hadoop.fs.Path(base, SupersededMarker))
      catch { case _: java.io.IOException => false }
    if (superseded)
      throw new IllegalStateException(
        s"$indexPath is a superseded generation of a manifest-managed " +
          s"graph index but no valid manifest version exists under " +
          s"${indexPath}_manifest — the manifest dir was lost; restore " +
          "it or rebuild the index")
    (indexPath, routePath(indexPath))
  }

  /** I9 for the graph family — the reference's RT per-segment KNN build
    * (each ingested segment gets its own index built under the shared
    * settings: builder train/add/save, knn/knn.cpp:638-786,
    * knn/knn.h:135-144): assign the new batch to the EXISTING sidecar
    * centroids (no retrain — the coarse quantizer is the shared "model"),
    * build fresh SEGMENT sub-graphs for the batch's non-empty clusters
    * under NEW pids, and append their graph rows + route rows.
    * [[searchRouted]] unions automatically: the schedule reads ALL route
    * rows, several pids may share a centroid, and the triangle bound holds
    * per pid — routed search stays EXACT (at full ef) mid-segment.
    *
    * Cost at 100 TB: ONE pass over the batch (assignment + per-cluster
    * builds) — the existing graph is never read or rewritten; probe
    * economy degrades gradually as segment sub-graphs accumulate until
    * [[compactClustered]] re-clusters (the reference's segment-merge
    * trade, same as [[graft.index.SecondaryIndex.appendSegment]]).
    *
    * `p.partitions` is ignored: segment sub-graph count = existing
    * centroid count. `newRows` ids must be new (the unique-id contract). */
  def appendSegment(newRows: DataFrame, vecCol: String, idCol: String,
                    indexPath: String, p: Params = Params()): Unit = {
    val spark = newRows.sparkSession
    val (graphDir, routeDir) = resolveDirs(spark, indexPath)
    val ri = routeInfo(spark, indexPath)
    val (metric, rts) = (ri.metric, ri.rts)
    require(rts.nonEmpty,
      s"no route sidecar rows at $routeDir — appendSegment maintains a " +
        "buildIndexClustered index")
    // next free pid from BOTH sidecars: a crash between the graph append
    // and the route append below leaves orphaned graph rows (invisible to
    // routed search — no route rows), and deriving the offset from the
    // route table alone would re-issue those pids, mixing two builds in
    // one rehydrated sub-graph. Footer-only probe, no data IO.
    val maxPid = math.max(
      rts.map(_._1).max,
      graft.stats.Stats.minMax(graphDir, "pid") match {
        case Some((_, mx: Int)) => mx
        case _ => Int.MinValue
      })
    // the ORIGINAL k-means centroids, deduped by content (prior appends
    // re-used them under new pids)
    val cents: Seq[Array[Float]] =
      rts.map(_._2.toSeq).distinct.map(_.toArray)
    val model = Ivf.Model(cents, Knn.L2)
    // IP binds with the BUILD's stored M (routeInfo fails loudly on a
    // lost marker) — a batch-local re-estimate would assign/bound the
    // segment in a DIFFERENT augmented space than the existing pids'.
    // And the batch must FIT under M: the routed schedule's sphere bound
    // assumes ‖v'‖ = M for every row, so a clamped over-M append would
    // let the prune drop the sub-graph holding the true top-1 — the
    // exact-at-full-ef contract breaks SILENTLY (r19 review). The ADC
    // family tolerates drift because its screen carries a refine margin;
    // the raw routed graph's bound is exactness-bearing, so refuse.
    val ipM2 = if (metric == Knn.IP) {
      val mn = ri.ipMaxNorm.get
      requireBatchUnderM(newRows, vecCol, mn, indexPath)
      mn * mn
    } else 0.0
    val boundCol = if (metric == Knn.L2) vecCol else "__vbound"
    val base = if (metric == Knn.L2) newRows
               else newRows.withColumn(boundCol,
                 Quantize.boundSpaceCol(metric, col(vecCol), ipM2))
    val assigned = Ivf.assign(base, boundCol, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import spark.implicits._
      val offset = maxPid + 1
      val keyed = assigned
        .select(col("ivf_cluster").cast("int").as("ci"),
          col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .as[(Int, Long, Array[Float])]
        .rdd.map(t => (t._1, (t._2, t._3)))
        .partitionBy(new PidPartitioner(cents.length))
      val rowRdd = keyed.mapPartitionsWithIndex { (ci, it) =>
        val rows = it.map(_._2).toSeq
        if (rows.isEmpty) Iterator.empty
        else buildOne(rows, offset + ci, p, metric)
      }
      spark.createDataFrame(rowRdd, graphSchema)
        .write.mode("append").parquet(graphDir)
      // route rows for the new pids — same column order as the sidecar
      appendRouteRows(assigned, boundCol, cents, offset, metric, routeDir,
        ri.ipMaxNorm)
      // hierarchy follows ingest: extend the layers sidecar to the new
      // pids when the index has one (crash before this = flat fallback)
      if (hasHierarchy(spark, indexPath))
        appendSegmentLayers(spark, keyed, offset, new FloatSpace(metric),
          p, indexPath)
    } finally assigned.unpersist(false)
    invalidate(indexPath)
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }

  /** I9 OPTIMIZE for the clustered graph, with the OBJECT-STORE-SAFE
    * commit of [[graft.index.SecondaryIndex.compactManifest]]: re-cluster
    * the full corpus — read from the index itself, whose (id, vec) rows
    * ARE the dataset — into a NEW immutable generation dir `<path>__g<N>`
    * holding `graph/` + `route/`, then commit by writing ONE manifest
    * object naming it (the only atomicity an object store guarantees).
    * [[resolveDirs]] prefers the manifest, so readers swap atomically and
    * every crash interleaving leaves a readable index. The generation
    * live until this commit is RETAINED for one compaction cycle
    * (in-flight readers that resolved it pre-commit finish on a
    * consistent snapshot); a retained legacy base pair gets the
    * superseded marker so a later manifest-dir loss fails loudly instead
    * of silently serving stale data; the next compact sweeps it. */
  def compactClustered(spark: SparkSession, indexPath: String,
                       p: Params = Params()): Unit =
    rebuildClustered(spark, indexPath, p)(identity)

  /** Row-DELETION maintenance for the clustered graph family (the ANN
    * analog of [[graft.index.SecondaryIndex.deleteKeys]] beside
    * [[Ivf.deleteFromIndex]]): rebuild the index from its OWN graph
    * table's (id, vec) rows MINUS the deleted ids into a new
    * manifest-committed generation. Unlike the IVF families — where
    * cluster assignments and codes are per-row, so deletion is one
    * filtered rewrite — sub-graph adjacency references neighbors
    * positionally, so deletion must re-link; this matches the
    * reference's own mutation flow, which drops and re-derives a
    * segment's KNN index rather than patching the graph
    * (knn/knn.cpp:638-786). Hierarchy sidecars rebuild inside the same
    * uncommitted generation (the [[compactClustered]] contract), routes
    * re-derive over the survivors, and readers never observe a
    * half-deleted index. NULL ids in `deletedKeys` are ignored (builds
    * refuse null ids, so they can never match). */
  def deleteFromClustered(spark: SparkSession, indexPath: String,
                          deletedKeys: DataFrame, keyCol: String,
                          p: Params = Params()): Unit = {
    val del = deletedKeys.select(col(keyCol).cast("long").as("__delkey"))
      .filter(col("__delkey").isNotNull).distinct()
    rebuildClustered(spark, indexPath, p)(corpus =>
      corpus.join(del, corpus("id") === del("__delkey"), "left_anti"))
  }

  /** Shared generation-rebuild body of [[compactClustered]] and
    * [[deleteFromClustered]]: re-cluster + re-link the (transformed)
    * corpus read back from the live graph, then manifest-commit. */
  private def rebuildClustered(spark: SparkSession, indexPath: String,
                               p: Params)
                              (transform: DataFrame => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(indexPath)
    val fs = base.getFileSystem(conf)
    val (graphDir, _) = resolveDirs(spark, indexPath)
    val (metric, _) = routes(spark, indexPath)
    val curVersion = graft.index.SecondaryIndex.manifestVersions(fs, indexPath)
      .headOption.map(_._1).getOrElse(0L)
    val nextVersion = curVersion + 1
    val nextPath = new org.apache.hadoop.fs.Path(s"${indexPath}__g$nextVersion")
    fs.delete(nextPath, true) // a crashed prior attempt at this version
    val corpus = transform(
      spark.read.parquet(graphDir).select(col("id"), col("vec")))
    buildClusteredTo(corpus, "vec", "id",
      new org.apache.hadoop.fs.Path(nextPath, "graph").toString,
      new org.apache.hadoop.fs.Path(nextPath, "route").toString, p, metric)
    // a hierarchy registration survives OPTIMIZE (r15 VERDICT #7): when
    // the superseded generation carried layers, rebuild them over the NEW
    // graph INSIDE the same uncommitted generation dir — the manifest
    // commit below swaps graph + layers atomically, so hier search never
    // sees a generation without its sidecar (the old sweep-and-fail-loud
    // contract remains only for indexes that never had a hierarchy)
    if (hasHierarchy(spark, indexPath))
      buildLayersFlatTo(spark,
        new org.apache.hadoop.fs.Path(nextPath, "graph").toString, metric,
        new org.apache.hadoop.fs.Path(nextPath, "layers").toString, p)
    // "_layers" in the sweep: a legacy-layout hierarchy sidecar is built
    // over the OLD graph's pids — stale once the generation commits
    commitGeneration(fs, base, indexPath, graphDir, nextVersion, nextPath,
      sidecarSuffixes = Seq("_route", "_layers"))
    invalidate(indexPath)
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }

  /** The shared generation-commit tail of [[compactClustered]] and
    * [[compactQuantized]] (one definition of the crash-safety protocol —
    * review r15-2): write ONE manifest object naming the new generation,
    * sweep stale dirs by name (base layout + its per-family sidecar
    * suffixes + other `__gN` generations) while RETAINING the generation
    * that was live until this commit for one cycle, and mark a retained
    * legacy base superseded so a lost manifest fails loudly instead of
    * silently serving stale data. */
  private def commitGeneration(fs: org.apache.hadoop.fs.FileSystem,
                               base: org.apache.hadoop.fs.Path,
                               indexPath: String, graphDir: String,
                               nextVersion: Long,
                               nextPath: org.apache.hadoop.fs.Path,
                               sidecarSuffixes: Seq[String]): Unit = {
    graft.index.SecondaryIndex.writeManifest(fs, indexPath, nextVersion,
      nextPath.getName)
    val baseName = base.getName
    val baseNames: Set[String] =
      Set(baseName) ++ sidecarSuffixes.map(baseName + _)
    val retained: Set[String] =
      if (graphDir == indexPath) baseNames
      else Set(new org.apache.hadoop.fs.Path(graphDir).getParent.getName)
    if (fs.exists(base.getParent)) {
      fs.listStatus(base.getParent).foreach { st =>
        val n = st.getPath.getName
        val stale = !retained.contains(n) && (
          baseNames.contains(n) ||
            (n.startsWith(baseName + "__g") &&
              n.stripPrefix(baseName + "__g").toLongOption
                .exists(_ != nextVersion)))
        if (stale) fs.delete(st.getPath, true)
      }
    }
    if (retained.contains(baseName)) {
      val mk = fs.create(new org.apache.hadoop.fs.Path(base,
        graft.index.SecondaryIndex.SupersededMarker), true)
      try mk.write("superseded by manifest commit\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally mk.close()
    }
  }

  // Resident graphs (the reference keeps its HNSW mmap'd for the life of
  // the daemon — knn/knn.cpp Load; re-shuffling the index table per query
  // would be the 100 TB defect): first search of an index pays ONE
  // pid-shuffle and pins the grouped graph in executor storage
  // (MEMORY_AND_DISK); every later query scans cache partition-locally and
  // ships k rows per sub-graph to the driver.
  private type GraphRow = (Long, Array[Float], Array[Long])
  private val resident =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.rdd.RDD[(Int, GraphRow)]]

  /** Grouped, persisted graph for `indexPath`: identity-partitioned by pid
    * (one sub-graph per Spark partition, never split or doubled-up).
    * Rebuilding an index at the same path within a session requires
    * [[invalidate]]. */
  private def loadGraph(spark: SparkSession,
                        indexPath: String): org.apache.spark.rdd.RDD[(Int, GraphRow)] =
    // synchronized: TrieMap.getOrElseUpdate may evaluate the loader twice
    // under concurrent first searches, and the loser would leak a
    // persisted, counted RDD for the life of the session. Loads are rare;
    // the coarse lock only guards them.
    resident.synchronized {
      resident.getOrElseUpdate(indexPath, {
        import spark.implicits._
        val df = spark.read.parquet(resolveDirs(spark, indexPath)._1)
          .select(col("pid"), col("id"), col("vec"), col("neighbors"))
        val maxPid = df.agg(max(col("pid"))).head
        if (maxPid.isNullAt(0)) {
          // empty index table: empty search results, nothing to persist
          spark.sparkContext.emptyRDD[(Int, GraphRow)]
        } else {
          val g = df.as[(Int, Long, Array[Float], Array[Long])]
            .rdd.map(t => (t._1, (t._2, t._3, t._4)))
            .partitionBy(new PidPartitioner(maxPid.getInt(0) + 1))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          g.count() // materialize: later queries must never race the shuffle
          g
        }
      })
    }

  /** Drop the resident copy of an index (call after rebuilding it). */
  def invalidate(indexPath: String): Unit = {
    resident.remove(indexPath).foreach(_.unpersist(false))
    residentL.remove(indexPath).foreach(_.unpersist(false))
    routeCache.remove(indexPath)
  }

  /** Rehydrate one partition's (id, payload, neighborIds) rows into a
    * [[SubGraph]] — the ONE shared walk-site loader (search, telemetry,
    * batch join, quantized walk). A dangling neighbor id (e.g. after a
    * corrupted partial append) fails loudly here, in one place. */
  private[vector] def rehydrate[V: scala.reflect.ClassTag](
      rows: Array[(Long, V, Array[Long])], space: Space[V]): SubGraph[V] = {
    val sorted = rows.sortBy(_._1)
    val g = new SubGraph(sorted.map(_._1), sorted.map(_._2), space)
    sorted.indices.foreach { i =>
      g.setNeighbors(i, sorted(i)._3.map { n =>
        val j = g.indexOf(n)
        if (j < 0) throw new IllegalStateException(
          s"dangling neighbor id $n in sub-graph (node ${sorted(i)._1})")
        j
      })
    }
    g
  }

  /** Rehydrate one partition's sub-graph and beam-search it: the shared
    * task body of [[search]] and [[searchRouted]]. `layers`, when
    * non-null, carries the partition's hierarchy rows: the beam starts at
    * the descent's entry instead of node 0 (the shared walk body of the
    * flat AND hier paths — review r15-4 deduplication). */
  private def searchSubGraph(it: Iterator[(Int, GraphRow)], q: Array[Float],
                             k: Int, ef: Int, metric: Knn.Metric,
                             allowed: Long => Boolean = _ => true,
                             adaptive: Boolean = false,
                             scoredAcc: org.apache.spark.util.LongAccumulator = null,
                             layers: Iterator[(Int, LayerRow)] = null,
                             hierMin: Int = 0)
      : Iterator[(Long, Double, Array[Float])] = {
    val rows = it.map(_._2).toArray
    if (rows.isEmpty) Iterator.empty
    else {
      val g = rehydrate(rows, new FloatSpace(metric))
      // small result sets complete before the discovery-rate signal means
      // anything — the reference disables quantile termination for k <= 10
      // (knn.cpp:481-483), mirrored here
      val term =
        if (adaptive && k > 10)
          new Quantile.Termination(Quantile.L2ThresholdQuantile)
        else null
      val counters = if (scoredAcc != null) new Array[Long](2) else null
      val entry =
        if (layers == null) 0
        else descend(g, hydratedLayers(g, layers, hierMin), q, counters)
      // vectors ride along (k per sub-graph): the automatic ANN route
      // feeds candidates back under the original Sort, which recomputes
      // exact distances from them
      val r = g.searchBeam(q, math.max(ef, k), g.n,
          i => allowed(g.ids(i)), term, counters, entry)
      if (scoredAcc != null) scoredAcc.add(counters(1))
      Iterator.range(0, math.min(k, r.size)).map { j =>
        val i = r.id(j).toInt
        (g.ids(i), r.value(j), g.vecs(i))
      }
    }
  }

  /** Top-k search: beam-search every sub-graph (ef >= k), merge per-graph
    * top-k with the [[Knn.knn]] (dist asc, id asc) contract. `ef` at least
    * the sub-graph size ⇒ exact. Each sub-graph must be searched whole, so
    * the (first-query-only) shuffle moves the index table, never facts.
    *
    * `allowed` is K3 on the graph path — the reference's per-candidate
    * filter callback (KNNFilter_i, knn/knn.h:87-94): traversal expands
    * through disallowed nodes, only allowed ids enter the beam; exact over
    * the allowed subset at ef >= sub-graph size. The caller supplies the
    * predicate (typically a broadcast id set from a selective attribute
    * filter, or a pure function of the id) — for BROAD attribute filters
    * prefer [[Ivf.searchFiltered]], whose index table carries the
    * attribute columns so the predicate rides the probe scan instead of a
    * driver-built set (the reference host hands its filter bitmaps to the
    * callback the same way). `adaptiveTermination` opts into the
    * reference's P²-quantile early stop (knn/termination.h) inside each
    * sub-graph's beam walk — fewer distance evaluations at a small recall
    * cost; leave false for the exact full-ef contract. */
  def search(spark: SparkSession, indexPath: String, idCol: String,
             query: Array[Float], k: Int, ef: Int,
             metric: Knn.Metric = Knn.L2,
             allowed: Option[Long => Boolean] = None,
             adaptiveTermination: Boolean = false): DataFrame = {
    import spark.implicits._
    val qB = spark.sparkContext.broadcast(query)
    val f = allowed.getOrElse((_: Long) => true)
    val adapt = adaptiveTermination
    val perPart = loadGraph(spark, indexPath)
      .mapPartitions(it =>
        searchSubGraph(it, qB.value, k, ef, metric, f, adapt)
          .map(t => (t._1, t._2)))
    spark.createDataset(perPart).toDF(idCol, "dist")
      .orderBy(col("dist").asc, col(idCol).asc).limit(k)
  }

  // Memoized routing sidecars: metric + IP augmentation bound M +
  // (pid, centroid, radius) per sub-graph — a few rows per index, read
  // once per session.
  private final case class RouteInfo(metric: Knn.Metric,
                                     ipMaxNorm: Option[Double],
                                     rts: Array[(Int, Array[Float], Double)])

  private val routeCache =
    scala.collection.concurrent.TrieMap.empty[String, RouteInfo]

  private def routeInfo(spark: SparkSession, indexPath: String): RouteInfo =
    routeCache.getOrElseUpdate(indexPath, {
      val raw = spark.read.parquet(resolveDirs(spark, indexPath)._2)
      // sidecars written before the metric column default to L2
      val withMetric = if (raw.columns.contains("metric")) raw
                       else raw.withColumn("metric", lit("l2"))
      val withNorm = if (withMetric.columns.contains("max_norm")) withMetric
                     else withMetric.withColumn("max_norm",
                       lit(null).cast("double"))
      val rows = withNorm
        .select(col("pid"), col("centroid"), col("radius"), col("metric"),
          col("max_norm"))
        .collect()
      // a mixed-metric sidecar is corrupt: collect() order is undefined, so
      // inferring from "the first row" would silently pick an arbitrary
      // metric and mis-bound the routing (ADVICE r8) — fail loudly instead
      val metrics = rows.map(_.getString(3)).distinct
      require(metrics.length <= 1,
        s"corrupt route sidecar at ${routePath(indexPath)}: " +
          s"mixed metrics ${metrics.mkString(", ")}")
      val metric = metrics.headOption match {
        case Some("cosine") => Knn.Cosine
        case Some("ip")     => Knn.IP
        case _              => Knn.L2
      }
      val norms = rows.filterNot(_.isNullAt(4)).map(_.getDouble(4)).distinct
      require(norms.length <= 1,
        s"corrupt route sidecar at ${routePath(indexPath)}: " +
          s"mixed IP bounds M ${norms.mkString(", ")} — segment rows must " +
          "carry the BUILD's M (an append that re-estimated M binds a " +
          "different augmented space)")
      // an IP sidecar that lost its M must fail LOUDLY before a route/
      // append binds the wrong augmented space (the
      // Ivf.requireStoredMaxNorm contract; M may legitimately be 0.0 for
      // an all-zero corpus — null is the corrupt case, not 0)
      if (metric == Knn.IP)
        require(norms.length == 1,
          s"route sidecar at ${routePath(indexPath)} is metric=ip but " +
            "carries no augmentation bound max_norm — rebuild with " +
            "buildIndexClustered (which writes it) or restore the sidecar")
      RouteInfo(metric, norms.headOption,
        rows.map(r => (r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
          .sortBy(_._1))
    })

  private def routes(spark: SparkSession, indexPath: String)
      : (Knn.Metric, Array[(Int, Array[Float], Double)]) = {
    val ri = routeInfo(spark, indexPath)
    (ri.metric, ri.rts)
  }

  private def metricName(m: Knn.Metric): String = m match {
    case Knn.L2     => "l2"
    case Knn.Cosine => "cosine"
    case Knn.IP     => "ip"
  }

  /** An IP segment append must fit under the build's augmentation bound M
    * — over-M rows clamp their augmented coordinate to 0, breaking the
    * ‖v'‖ = M identity the exactness-bearing prune bounds assume. One
    * max-agg over the batch (the cost of the check is one pass over rows
    * the append reads anyway); 1e-6 relative slack absorbs float32
    * round-trip of the stored M. The recovery is the retraining compact
    * (compactClustered / compactQuantized re-estimate M over the full
    * corpus). */
  private def requireBatchUnderM(newRows: DataFrame, vecCol: String,
                                 storedM: Double, indexPath: String): Unit = {
    val batchM2 = Ivf.maxSumsq(newRows, vecCol)
    require(batchM2 <= storedM * storedM * (1.0 + 1e-6),
      f"appendSegment: batch max norm ${math.sqrt(batchM2)}%.6g exceeds " +
        f"the IP index's stored augmentation bound M = $storedM%.6g " +
        s"($indexPath) — appending would clamp those rows' augmented " +
        "coordinate and silently break the routed prune's exactness; " +
        "compact the index (which retrains M over the full corpus) and " +
        "retry the append")
  }

  /** ROUTED top-k over a [[buildIndexClustered]] index — the partitioned
    * analog of the reference's routed HNSW descent (knn/knn.cpp:455-537
    * walks entry points toward the query instead of scanning every node):
    * probe sub-graphs in centroid-distance order, doubling the probe set
    * per round, and stop once every unprobed sub-graph's triangle-
    * inequality lower bound exceeds the current kth-best distance. The
    * metric comes from the sidecar: L2 bounds with `||q−c|| − radius`
    * directly; cosine bounds in the normalized space with
    * `max(0, ||q̂−c|| − r − ε)² / 2` while sub-graphs score the exact
    * cosine kernel on raw vectors (same construction as
    * [[Ivf.searchAdaptiveCosine]]). EXACT when `ef` >= sub-graph size (the
    * bound is a true lower bound, and equal-bound sub-graphs are still
    * probed under the tie rule) — the oracle-checked configuration; with
    * small `ef` it inherits beam-search recall within the probed
    * sub-graphs.
    *
    * Scale shape: selected sub-graphs run as tasks of a
    * PartitionPruningRDD over the resident graph — unprobed partitions are
    * never scheduled (0 tasks, not "tasks that return nothing"), and each
    * probe round ships k rows per sub-graph to the driver.
    *
    * Returns (top-k DataFrame, sub-graphs probed). */
  def searchRouted(spark: SparkSession, indexPath: String, idCol: String,
                   query: Array[Float], k: Int, ef: Int,
                   eps: Double = 1e-4,
                   allowed: Option[Long => Boolean] = None,
                   adaptiveTermination: Boolean = false,
                   scoredAcc: org.apache.spark.util.LongAccumulator = null)
      : (DataFrame, Int) = {
    import spark.implicits._
    val (rows, probed) = searchRoutedRaw(spark, indexPath, query, k, ef,
      eps, allowed, adaptiveTermination, scoredAcc)
    (rows.map { case (id, dist, _) => (id, dist) }.toSeq.toDF(idCol, "dist"),
      probed)
  }

  /** The metric a clustered graph index was built under (from its route
    * sidecar — cached, a few rows read once per session). The automatic
    * ANN route consults this at REGISTRATION so plan time stays
    * metadata-free. */
  def indexMetric(spark: SparkSession, indexPath: String): Knn.Metric =
    routes(spark, indexPath)._1

  /** [[searchRouted]] returning raw (id, dist, vector) rows, best-first —
    * the form [[graft.plans.AnnRoutingRule]]'s graph family feeds back
    * under the original Sort/Limit (which recomputes exact distances from
    * the vectors, keeping the routed plan's results identical to the
    * explicit API's). `scoredAcc`, when non-null, accumulates distances
    * scored across the probed sub-graphs' walks — the probe-savings
    * measurement behind the adaptive-termination knob (BenchScale reports
    * adaptive vs exact). */
  def searchRoutedRaw(spark: SparkSession, indexPath: String,
                      query: Array[Float], k: Int, ef: Int,
                      eps: Double = 1e-4,
                      allowed: Option[Long => Boolean] = None,
                      adaptiveTermination: Boolean = false,
                      scoredAcc: org.apache.spark.util.LongAccumulator = null)
      : (Array[(Long, Double, Array[Float])], Int) = {
    val graph = loadGraph(spark, indexPath)
    val qB = spark.sparkContext.broadcast(query)
    // K3: the filter callback rides inside each probed sub-graph's beam
    // walk; the triangle bound still holds a fortiori for the allowed
    // subset, and < k survivors keeps the loop probing (over-probe)
    val f = allowed.getOrElse((_: Long) => true)
    val metric = routes(spark, indexPath)._1
    val adapt = adaptiveTermination
    val acc = scoredAcc
    routedSchedule(spark, indexPath, query, k, eps, probes => {
      val pruned = org.apache.spark.rdd.PartitionPruningRDD.create(
        graph, probes.contains)
      pruned.mapPartitions(it =>
        searchSubGraph(it, qB.value, k, ef, metric, f, adapt, acc)).collect()
    })
  }

  /** Driver-side PROBE-ROUND counter across the flat and quantized
    * routed schedules (r20 telemetry, VERDICT r19: each round of the
    * doubling schedule is one driver job launch — ~1 ms locally, ~100 ms
    * of scheduling on a real cluster. BENCH_SF1's `probe_rounds` block
    * pins rounds ≤ log₂(probed)+1 per search at the default
    * probeBatch=1; a deployment sizes `spark.graft.graph.probeBatch`
    * toward its expected probe count to collapse the rounds toward 1 —
    * exactness is unaffected, over-probing only wastes walk work the
    * triangle-bound stop rule tolerates). */
  val probeRounds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The centroid-ordered, triangle-bounded probe schedule shared by the
    * flat routed walk ([[searchRoutedRaw]]) and the hierarchy walk
    * ([[searchRoutedHier]]): probe sub-graphs in centroid-distance order
    * with a doubling batch, drop sub-graphs whose lower bound exceeds the
    * kth-best once k hits are held (they can never re-enter — the kth best
    * only improves), stop when none remain. `probeFn` runs one probe round
    * over a pid set and returns its (id, dist, vec) candidates. */
  // k >= 1 at the schedule head (review r18-9): k = 0 reached
  // bestK.last on an empty Seq (and cands(k-1) = cands(-1) in the coarse
  // screen) — crash instead of an empty result; SQL LIMIT 0 never gets
  // here only because OptimizeLimitZero removes the plan first.
  private def routedSchedule(spark: SparkSession, indexPath: String,
                             query: Array[Float], k: Int, eps: Double,
                             probeFn: Set[Int] => Array[(Long, Double, Array[Float])])
      : (Array[(Long, Double, Array[Float])], Int) = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val ri = routeInfo(spark, indexPath)
    val (metric, rts) = (ri.metric, ri.rts)
    val boundQ = Quantize.bindQuerySide(metric, query)
    val centDist = rts.map(r => r._1 -> Ivf.scalarDist(Knn.L2, boundQ, r._2)).toMap
    val radius = rts.map(r => r._1 -> r._3).toMap
    val order = rts.map(_._1).sortBy(centDist)
    // the walk's dist values are 1−dot for IP, so the prune converts the
    // augmented-L2 triangle bound into a 1−dot bound (Ivf.ipLowerBound) —
    // AND takes the Cauchy–Schwarz bound in RAW space as a second lower
    // bound (r19 telemetry: the sphere bound alone probed 32/32 at 10× —
    // the augmented radius absorbs the corpus NORM spread, while C-S only
    // pays the directional spread): ⟨q,v⟩ ≤ ⟨q,c⟩ + ‖q‖·‖v−c‖_raw and
    // ‖v−c‖_raw ≤ the stored augmented radius (the extra coordinate only
    // adds), so 1−⟨q,v⟩ ≥ 1−⟨q,c⟩−‖q‖·r for every member. The raw
    // centroid is the augmented centroid's PREFIX (Lloyd means commute
    // with projection). Both bounds are true lower bounds — max is too.
    val qSumsq = query.map(x => x.toDouble * x).sum
    val qNorm = math.sqrt(qSumsq)
    val ipM2 = ri.ipMaxNorm.map(m => m * m).getOrElse(0.0)
    val dotQC: Map[Int, Double] =
      if (metric != Knn.IP) Map.empty
      else rts.map { r =>
        var dot = 0.0; var i = 0
        while (i < query.length) { dot += query(i).toDouble * r._2(i); i += 1 }
        r._1 -> dot
      }.toMap
    def bound(pid: Int): Double = metric match {
      case Knn.Cosine => Ivf.cosineLowerBound(centDist(pid), radius(pid), eps)
      case Knn.IP =>
        math.max(
          Ivf.ipLowerBound(centDist(pid), radius(pid), qSumsq, ipM2, eps),
          1.0 - dotQC(pid) - qNorm * (radius(pid) + eps))
      case _ => centDist(pid) - radius(pid)
    }
    var remaining: Seq[Int] = order.toSeq
    var probed = 0
    // Initial probe batch (doubles each round). Locally a round costs
    // ~1 ms, but on a real cluster every round is one job launch
    // (~100 ms of scheduling), so a deployment can start at 2 or 4 and
    // halve the round count. Exactness is unaffected: a larger batch only
    // ever probes MORE sub-graphs per round than the schedule strictly
    // needs, and the triangle-bound stop rule tolerates over-probing
    // (HnswSpec pins identical exact results with fewer jobs).
    var batch = spark.conf.getOption("spark.graft.graph.probeBatch")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    var bestK: Seq[(Double, Long, Array[Float])] = Nil // (dist, id, vec) asc
    // Once k hits are held, sub-graphs whose lower bound exceeds the kth
    // best are dropped from the schedule permanently (ADVICE r8: the kth
    // best only improves, so they can never re-enter) — the next round
    // schedules only still-relevant sub-graphs, not the blind prefix.
    // <= keeps equal-bound sub-graphs probed (the tie rule).
    while ({
      if (bestK.size >= k)
        remaining = remaining.filter(j => bound(j) <= bestK.last._1)
      remaining.nonEmpty
    }) {
      val probes = remaining.take(batch).toSet
      val rows = probeFn(probes).map { case (id, d, vec) => (d, id, vec) }
      // sortBy (dist, id): the vector slot has no ordering
      bestK = (bestK ++ rows).sortBy(t => (t._1, t._2)).take(k)
      probed += probes.size
      probeRounds.incrementAndGet()
      remaining = remaining.drop(batch)
      batch *= 2
    }
    (bestK.map { case (dist, id, vec) => (id, dist, vec) }.toArray, probed)
  }

  /** WALK TELEMETRY (r13 VERDICT #5 — turning the flat-NSW-vs-hierarchy
    * decision into a number): beam-walk every sub-graph for one query and
    * return per-sub-graph (pid, size, nodesExpanded, distancesScored).
    * "Expanded" counts dequeued nodes whose adjacency was scanned — the
    * hops a walk takes; the Hnsw scaladoc's claim that the layer
    * hierarchy "buys one hop" at our sub-graph sizes predicts expansion
    * grows ~logarithmically with sub-graph size. BenchScale measures this
    * at two sizes over the same 10× corpus and pins a sub-logarithmic
    * growth ceiling; super-logarithmic growth there is the signal to add
    * the entry-point layer. */
  def walkStats(spark: SparkSession, indexPath: String,
                query: Array[Float], k: Int, ef: Int)
      : Array[(Int, Int, Long, Long)] = {
    val (metric, _) = routes(spark, indexPath)
    val qB = spark.sparkContext.broadcast(query)
    loadGraph(spark, indexPath).mapPartitions(it =>
      walkOne(it.toArray, null, qB.value, k, ef, metric)).collect()
  }

  /** One partition's telemetry walk — the shared body of [[walkStats]]
    * and [[walkStatsHier]] (`lt` null = flat lowest-id entry). */
  private def walkOne(rows: Array[(Int, GraphRow)],
                      lt: Iterator[(Int, LayerRow)],
                      q: Array[Float], k: Int, ef: Int, metric: Knn.Metric)
      : Iterator[(Int, Int, Long, Long)] =
    if (rows.isEmpty) Iterator.empty
    else {
      val pid = rows.head._1
      val g = rehydrate(rows.map(_._2), new FloatSpace(metric))
      val c = new Array[Long](2)
      val entry = if (lt == null) 0 else descend(g, hydratedLayers(g, lt), q, c)
      g.searchBeam(q, math.max(ef, k), g.n, counters = c, entry = entry)
      Iterator.single((pid, g.n, c(0), c(1)))
    }

  /** [[walkStats]]/[[walkStatsHier]] for a CODE-space index (r17,
    * VERDICT r16 #7 — the quantized descent pays ADC/int8 distance costs,
    * not float ones, so its crossover economics are measured separately):
    * per-sub-graph (pid, size, nodesExpanded, distancesScored) of the
    * quantized beam, both counters including the descent's hops/scores
    * when `hier`. */
  def walkStatsQuantized(spark: SparkSession, indexPath: String,
                         query: Array[Float], k: Int, ef: Int,
                         hier: Boolean = false)
      : Array[(Int, Int, Long, Long)] = {
    val (metric, _) = routes(spark, indexPath)
    val qm = qmodel(spark, indexPath)
    val bq = Quantize.bindQuerySide(metric, query)
    val graph = loadQuantizedGraph(spark, indexPath)
    val qB = spark.sparkContext.broadcast((qm, bq))
    val efEff = math.max(ef, k)
    val one = (rows: Array[(Int, QGraphRow)], lt: Iterator[(Int, LayerRow)]) =>
      if (rows.isEmpty) Iterator.empty[(Int, Int, Long, Long)]
      else {
        val (mm, q) = qB.value
        val pid = rows.head._1
        val g = rehydrate(rows.map(_._2), new CodeSpace(mm))
        val c = new Array[Long](2)
        val entry =
          if (lt == null) 0 else descend(g, hydratedLayers(g, lt), q, c)
        g.searchBeam(q, efEff, g.n, counters = c, entry = entry)
        Iterator.single((pid, g.n, c(0), c(1)))
      }
    if (hier) {
      val layers = loadLayers(spark, indexPath, graph.getNumPartitions)
      graph.zipPartitions(layers, preservesPartitioning = true)(
        (git, lit) => one(git.toArray, lit)).collect()
    } else graph.mapPartitions(it => one(it.toArray, null)).collect()
  }

  // ==================== Layer hierarchy =====================
  //
  // The reference's index is a true multi-layer HNSW (hnswlib via
  // knn/knn.cpp:455-537): each node draws a geometric level, upper layers
  // are sparse navigable graphs over the level>=l subsets, and a query
  // greedily descends from the top layer's entry point to a near-optimal
  // layer-0 start before the ef beam runs. The engine's flat NSW starts
  // every beam at the sub-graph's lowest id instead — measured fine at the
  // current sub-graph sizes (BENCH_SF1 walk_telemetry: expansion growth
  // 1.15 at an 8x size step, sub-logarithmic), but the localization cost of
  // a fixed entry grows with sub-graph size where the descent's does not.
  // The hierarchy is therefore an OPTIONAL sidecar (`<path>_layers`, or
  // `layers/` inside a committed generation): built per-partition from the
  // finished layer-0 table, levels drawn as a deterministic hash of the id
  // (rebuild-stable), and consumed by [[searchRoutedHier]], which descends
  // the layers to pick the beam entry. Layer-0 storage, every existing
  // gate, and the exact full-ef contract are untouched (entry choice
  // cannot change an exhaustive walk); sub-graphs appended after the
  // hierarchy build simply have no layer rows and fall back to the flat
  // entry — graceful, never wrong.

  /** Sidecar location of the layer hierarchy of a graph index (legacy
    * layout; a [[compactClustered]] generation holds a `layers/` subdir). */
  def layersPath(indexPath: String): String = indexPath + "_layers"

  private[vector] def resolveLayersDir(spark: SparkSession, indexPath: String): String = {
    val (g, _) = resolveDirs(spark, indexPath)
    if (g == indexPath) layersPath(indexPath)
    else new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(g).getParent, "layers").toString
  }

  private val layerSchema = StructType(Seq(
    StructField("pid", IntegerType),
    StructField("level", IntegerType),
    StructField("id", LongType),
    StructField("neighbors", ArrayType(LongType))))

  /** The hnswlib level draw `floor(-ln(u) * mL)`, mL = 1/ln(m) — but with
    * `u` a SPLITMIX64 hash of the id instead of a PRNG stream, so a node's
    * level is a pure function of (id, m): rebuilds, segment re-appends and
    * compactions assign identical levels with no RNG state to carry.
    * P(level >= l) = m^-l: layer 1 holds ~n/m nodes, layer 2 ~n/m², so the
    * whole hierarchy adds < 1/(m-1) of layer-0's edges. */
  private[vector] def nodeLevel(id: Long, m: Int): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // top 53 bits -> uniform double in [0,1); 1-u in (0,1] avoids ln(0)
    val u = 1.0 - (z >>> 11).toDouble / (1L << 53).toDouble
    val mL = 1.0 / math.log(m.toDouble)
    math.min(31.0, math.floor(-math.log(u) * mL)).toInt
  }

  /** Build the layer-hierarchy sidecar for a CLUSTERED graph index (the
    * metric comes from its route sidecar): one pass over the graph table,
    * one task per sub-graph — each draws levels from the node ids, builds
    * an NSW over every level>=l subset with the SAME diversity heuristic +
    * chain edges as layer 0, and emits (pid, level, id, neighbors) rows
    * for levels >= 1. Safe to run on a live index: readers that loaded the
    * flat graph are unaffected, and [[searchRoutedHier]] picks the sidecar
    * up on its next load. [[compactClustered]] rebuilds the layers INSIDE
    * the new generation when the superseded one had them (r15 VERDICT #7
    * — a hier registration survives OPTIMIZE without an operator step),
    * and [[appendSegment]] extends the sidecar to its new pids (r16 — the
    * hierarchy follows ingest; a crash mid-append leaves the new pids on
    * the flat-entry fallback, still exact). */
  def buildHierarchy(spark: SparkSession, indexPath: String,
                     p: Params = Params()): Unit = {
    val (graphDir, _) = resolveDirs(spark, indexPath)
    val metric = routes(spark, indexPath)._1
    buildLayersFlatTo(spark, graphDir, metric,
      resolveLayersDir(spark, indexPath), p)
    residentL.remove(indexPath).foreach(_.unpersist(false))
  }

  /** [[buildHierarchy]] against explicit dirs — shared by the live-index
    * build and [[compactClustered]]'s in-generation rebuild. */
  private def buildLayersFlatTo(spark: SparkSession, graphDir: String,
                                metric: Knn.Metric, layersDir: String,
                                p: Params): Unit = {
    import spark.implicits._
    // mL = 1/ln(m): the geometric layer-thinning math (and the <1/(m-1)
    // edge-overhead claim) assume m >= 2 — m = 1 draws level 31 for EVERY
    // node, 31 full duplicate NSWs per sub-graph (ADVICE r16-3)
    require(p.m >= 2, s"hierarchy build requires m >= 2 (got ${p.m})")
    val df = spark.read.parquet(graphDir)
      .select(col("pid"), col("id"), col("vec"))
    val maxPidRow = df.agg(max(col("pid"))).head
    if (maxPidRow.isNullAt(0)) {
      // empty graph: write an empty (but present) sidecar so hier search
      // over the empty index stays consistent instead of failing the
      // missing-sidecar require
      graft.tables.Writer.write(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], layerSchema),
        layersDir, sortBy = Seq("pid", "level", "id"))
      return
    }
    val maxPid = maxPidRow.getInt(0)
    val keyed = df.as[(Int, Long, Array[Float])]
      .rdd.map(t => (t._1, (t._2, t._3)))
      .partitionBy(new PidPartitioner(maxPid + 1))
    writeLayersFrom(spark, keyed, new FloatSpace(metric), p, layersDir,
      maxPid + 1)
  }

  /** [[buildHierarchy]] for a QUANTIZED clustered graph
    * ([[buildIndexClusteredQuantized]]): the upper layers are built and
    * walked in CODE space (the same [[CodeSpace]] kernel as the layer-0
    * beam — the reference's hierarchy and quantizer compose the same way,
    * knn/knn.cpp:105-135 hands hnswlib the quantized space and hnswlib
    * layers it), so the hierarchy adds no float residency. */
  def buildHierarchyQuantized(spark: SparkSession, indexPath: String,
                              p: Params = Params()): Unit = {
    val graphDir = resolveQuantizedDirs(spark, indexPath)._1
    val qm = qmodel(spark, indexPath)
    buildLayersQuantizedTo(spark, graphDir, qm,
      resolveLayersDir(spark, indexPath), p)
    residentL.remove(indexPath).foreach(_.unpersist(false))
  }

  /** [[buildHierarchyQuantized]] against explicit dirs — shared by the
    * live-index build and [[compactQuantized]]'s in-generation rebuild. */
  private def buildLayersQuantizedTo(spark: SparkSession, graphDir: String,
                                     qm: Quantize.QModel, layersDir: String,
                                     p: Params): Unit = {
    import spark.implicits._
    require(p.m >= 2, s"hierarchy build requires m >= 2 (got ${p.m})")
    val df = spark.read.parquet(graphDir)
      .select(col("pid"), col("id"), col("qcode"))
    val maxPidRow = df.agg(max(col("pid"))).head
    if (maxPidRow.isNullAt(0)) {
      graft.tables.Writer.write(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], layerSchema),
        layersDir, sortBy = Seq("pid", "level", "id"))
      return
    }
    val maxPid = maxPidRow.getInt(0)
    val keyed = df.as[(Int, Long, Array[Byte])]
      .rdd.map(t => (t._1, (t._2, t._3)))
      .partitionBy(new PidPartitioner(maxPid + 1))
    writeLayersFrom(spark, keyed, new CodeSpace(qm), p, layersDir, maxPid + 1)
  }

  /** The shared per-partition layer builder: draw levels from the ids,
    * build an NSW over every level>=l subset through the space kernel
    * (same diversity heuristic + chain edges as layer 0), write
    * (pid, level, id, neighbors) rows for levels >= 1. */
  private def writeLayersFrom[V: scala.reflect.ClassTag](
      spark: SparkSession,
      keyed: org.apache.spark.rdd.RDD[(Int, (Long, V))],
      space: Space[V], p: Params, layersDir: String,
      numParts: Int): Unit = {
    val m = p.m
    val efC = p.efC
    val rowRdd = keyed.mapPartitionsWithIndex { (pid, it) =>
      val nodes = it.map(_._2).toArray.sortBy(_._1)
      if (nodes.isEmpty) Iterator.empty
      else layerRowsFor(nodes, pid, space, m, efC)
    }
    graft.tables.Writer.write(spark.createDataFrame(rowRdd, layerSchema),
      layersDir, sortBy = Seq("pid", "level", "id"), files = numParts)
  }

  /** Layer rows (levels >= 1) for ONE sub-graph's id-sorted nodes — the
    * shared kernel of [[writeLayersFrom]] and the segment-append
    * extension. */
  private[vector] def layerRowsFor[V: scala.reflect.ClassTag](
      nodes: Array[(Long, V)], pid: Int, space: Space[V], m: Int,
      efC: Int): Iterator[Row] = {
    val levels = nodes.map(n => nodeLevel(n._1, m))
    val maxL = levels.max
    (1 to maxL).iterator.flatMap { l =>
      val subset = nodes.indices.filter(levels(_) >= l)
      val sub = new SubGraph[V](
        subset.map(i => nodes(i)._1).toArray,
        subset.map(i => nodes(i)._2).toArray, space)
      sub.build(m, efC)
      (0 until sub.n).iterator.map { i =>
        Row(pid, l, sub.ids(i), sub.neighborIds(i))
      }
    }
  }

  /** THE HIERARCHY FOLLOWS INGEST (r16): when an index already carries a
    * layers sidecar, its segment appends extend it — layer rows for the
    * new pids append after the graph+route rows, so hier walks descend
    * fresh segments too instead of falling back to flat entries until the
    * next full build. Deterministic (levels hash from ids, the same rows
    * a full rebuild would emit for these pids) and crash-safe: any crash
    * before this append leaves the new pids on the flat-entry fallback,
    * never a mismatched descent. */
  private def appendSegmentLayers[V: scala.reflect.ClassTag](
      spark: SparkSession,
      keyed: org.apache.spark.rdd.RDD[(Int, (Long, V))],
      offset: Int, space: Space[V], p: Params, indexPath: String): Unit = {
    val layersDir = resolveLayersDir(spark, indexPath)
    val m = p.m
    val efC = p.efC
    require(m >= 2, s"hierarchy build requires m >= 2 (got $m)")
    val rowRdd = keyed.mapPartitionsWithIndex { (ci, it) =>
      val nodes = it.map(_._2).toArray.sortBy(_._1)
      if (nodes.isEmpty) Iterator.empty
      else layerRowsFor(nodes, offset + ci, space, m, efC)
    }
    spark.createDataFrame(rowRdd, layerSchema)
      .write.mode("append").parquet(layersDir)
  }

  private[vector] type LayerRow = (Int, Long, Array[Long]) // (level, id, neighbors)
  private val residentL =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.rdd.RDD[(Int, LayerRow)]]

  /** Resident layer rows, co-partitioned with [[loadGraph]]'s RDD
    * (`numParts` = the graph's partition count, so the two zip). Pids
    * without rows (an append that predates the hierarchy build, or a
    * crash before a segment's layer append) are empty partitions —
    * flat-entry fallback. */
  private def loadLayers(spark: SparkSession, indexPath: String,
                         numParts: Int): org.apache.spark.rdd.RDD[(Int, LayerRow)] =
    residentL.synchronized {
      residentL.getOrElseUpdate(indexPath, {
        import spark.implicits._
        val dir = resolveLayersDir(spark, indexPath)
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(p),
          s"no layer hierarchy at $dir — run Hnsw.buildHierarchy first " +
            "(compaction rebuilds layers only for indexes that had them)")
        val df = spark.read.parquet(dir)
          .select(col("pid"), col("level"), col("id"), col("neighbors"))
        val l = df.as[(Int, Int, Long, Array[Long])]
          .rdd.map(t => (t._1, (t._2, t._3, t._4)))
          .partitionBy(new PidPartitioner(numParts))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        l.count()
        l
      })
    }

  /** Rehydrate one partition's layer rows against the layer-0 id→index
    * map: levels DESCENDING, each as (level, member layer-0 indices
    * ascending, adjacency as layer-0 indices). Ascending-id layer-0 arrays
    * make id order == index order, so members stay binary-searchable. A
    * dangling id fails loudly (same contract as [[rehydrate]]). */
  private def rehydrateLayers(rows: Array[LayerRow],
                              idx: Long => Int)
      : Array[(Int, Array[Int], Array[Array[Int]])] =
    rows.groupBy(_._1).toArray.sortBy(-_._1).map { case (lvl, rs) =>
      val sorted = rs.sortBy(_._2)
      (lvl, sorted.map(r => idx(r._2)), sorted.map(_._3.map(idx(_))))
    }

  /** Sub-graph size below which a hierarchy walk SKIPS its descent and
    * starts the beam at the flat entry (r15 VERDICT #2 — the recorded
    * engagement threshold): the r17 crossover sweep at ef=64/k=10 on the
    * jitter-tiled corpus (BENCH_SF1 hier_crossover; 20 queries/point)
    * measures scored-distances flat→hier of 500→550 at 10k rows,
    * 483→508 at 20k (descent loses), 446→441 at 28k, 420→410 at 36k,
    * 421→407 at 50k (descent wins, on expanded nodes too) — the
    * crossover sits in (20k, 28k), so the default is its midpoint 24576.
    * The gate is PER SUB-GRAPH — a mixed index descends only the
    * sub-graphs big enough to pay — and results are unaffected (entry
    * choice cannot change an exhaustive full-ef walk; small-ef walks
    * keep the same beam-recall contract either way). Conf
    * `spark.graft.graph.hierMinRows`; 0 forces the descent everywhere
    * (gates/specs pinning the descent itself). Telemetry
    * ([[walkStatsHier]]) always descends — it measures the descent. */
  val DefaultHierMinRows: Int = 24576

  def hierMinRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.graph.hierMinRows")
      .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(DefaultHierMinRows)

  /** [[rehydrateLayers]] against a sub-graph's own id index, with the one
    * stale-sidecar failure message — the shared layer loader of every
    * hier walk site. `minRows` is the [[hierMinRows]] engagement gate
    * (empty layers = flat entry, descent skipped and not counted). */
  private[vector] def hydratedLayers[V](g: SubGraph[V],
                                lt: Iterator[(Int, LayerRow)],
                                minRows: Int = 0)
      : Array[(Int, Array[Int], Array[Array[Int]])] =
    if (g.n < minRows) Array.empty
    else rehydrateLayers(lt.map(_._2).toArray, { id =>
      val i = g.indexOf(id)
      if (i < 0) throw new IllegalStateException(
        s"layer row references id $id absent from its sub-graph — stale " +
          "hierarchy sidecar; rebuild with buildHierarchy " +
          "(buildHierarchyQuantized for code-space indexes)")
      i
    })

  /** Walks that actually ran a hierarchy descent (nonempty layers) —
    * spec instrumentation only, meaningful in local mode where executors
    * share the JVM (same caveat as
    * [[graft.plans.GraphCandidates.fallbackCount]]). */
  val descents = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Schedule `body` over the probed partitions, zipping the layer RDD in
    * when the hier path is on (`body` receives null layer iterators on the
    * flat path) — the ONE definition of the graph×layers pruning
    * composition shared by the routed walk, the quantized coarse pass,
    * and both batch joins (review r15-5). */
  private def prunedWalk[R, T: scala.reflect.ClassTag](
      graph: org.apache.spark.rdd.RDD[(Int, R)],
      layersOpt: Option[org.apache.spark.rdd.RDD[(Int, LayerRow)]],
      pred: Int => Boolean)(
      body: (Iterator[(Int, R)], Iterator[(Int, LayerRow)]) => Iterator[T])
      : org.apache.spark.rdd.RDD[T] =
    layersOpt match {
      case Some(layers) =>
        org.apache.spark.rdd.PartitionPruningRDD.create(
          graph.zipPartitions(layers, preservesPartitioning = true)(
            (a, b) => body(a, b)),
          pred)
      case None =>
        org.apache.spark.rdd.PartitionPruningRDD.create(graph, pred)
          .mapPartitions(it => body(it, null))
    }

  /** The OVER-BUDGET batch-join schedule (r15 VERDICT #1): queries arrive
    * as a co-partitioned RDD (pid-assigned and shuffled by
    * [[PidPartitioner]] — the query side never touches the driver) and zip
    * against the resident graph (and layers, on the hier path). No
    * partition pruning — which pids have queries is not known driver-side
    * — but a task whose query slice is empty returns before rehydrating
    * anything, and at over-budget batch sizes every sub-graph is assigned
    * work anyway. */
  private def zipWalk[R: scala.reflect.ClassTag,
                      T: scala.reflect.ClassTag](
      graph: org.apache.spark.rdd.RDD[(Int, R)],
      layersOpt: Option[org.apache.spark.rdd.RDD[(Int, LayerRow)]],
      qAssign: org.apache.spark.rdd.RDD[(Int, (Long, Array[Float]))])(
      body: (Iterator[(Int, R)], Iterator[(Int, LayerRow)],
             Array[(Long, Array[Float])]) => Iterator[T])
      : org.apache.spark.rdd.RDD[T] =
    layersOpt match {
      case Some(layers) =>
        graph.zipPartitions(layers, qAssign, preservesPartitioning = true)(
          (g, l, q) => body(g, l, q.map(_._2).toArray))
      case None =>
        graph.zipPartitions(qAssign, preservesPartitioning = true)(
          (g, q) => body(g, null, q.map(_._2).toArray))
    }

  /** Distributed pid assignment for the over-budget batch joins: each
    * query row maps to its `nprobe` nearest sub-graphs by centroid
    * distance in the bound space (`carry` picks what the walk consumes —
    * the raw vector for the float graph, the bound-space vector for the
    * code graph) and shuffles by pid to co-locate with the resident
    * graph's partitioning. Centroids broadcast (≤ nlist rows); pids
    * outside the graph's partition range (route rows of an empty appended
    * cluster) drop — they have no corpus vectors. */
  private def assignQueriesByPid(qRdd: org.apache.spark.rdd.RDD[(Long, Array[Float])],
                                 spark: SparkSession, metric: Knn.Metric,
                                 rts: Seq[(Int, Array[Float], Double)],
                                 nprobe: Int, numParts: Int,
                                 carryBound: Boolean)
      : org.apache.spark.rdd.RDD[(Int, (Long, Array[Float]))] = {
    val rtsB = spark.sparkContext.broadcast(
      rts.map(r => (r._1, r._2)).toArray)
    qRdd
      .flatMap { case (qid, qv) =>
        val bq = Quantize.bindQuerySide(metric, qv)
        val carry = if (carryBound) bq else qv
        rtsB.value.iterator
          .map(r => (Ivf.scalarDist(Knn.L2, bq, r._2), r._1))
          .toArray.sortBy(identity).take(nprobe).iterator
          .collect { case (_, pid) if pid < numParts =>
            (pid, (qid, carry)) }
      }
      .partitionBy(new PidPartitioner(numParts))
  }

  /** Greedy hierarchy descent (hnswlib's upper-layer phase,
    * knn/knn.cpp:455-537: ef=1 from the top layer's entry point): at each
    * layer move to the best-improving neighbor until a local minimum, then
    * drop a layer — a node at level l is a member of every lower layer, so
    * the position carries down. Deterministic: ties move to the LOWER
    * index, and (dist, index) strictly decreases lexicographically, so the
    * walk terminates. Returns the layer-0 beam entry; `counters` receives
    * (hops, distances scored) like the beam's. */
  private[vector] def descend[V](g: SubGraph[V],
                         layers: Array[(Int, Array[Int], Array[Array[Int]])],
                         q: Array[Float],
                         counters: Array[Long]): Int = {
    if (layers.isEmpty) return 0
    descents.incrementAndGet()
    var cur = layers.head._2(0)
    var curD = g.nodeDist(cur, q)
    if (counters != null) counters(1) += 1
    layers.foreach { case (_, nodes, adj) =>
      var moved = true
      while (moved) {
        moved = false
        if (counters != null) counters(0) += 1
        val pos = java.util.Arrays.binarySearch(nodes, cur)
        // downward closure: a node at level l is a member of every lower
        // layer. A corrupt sidecar can break that — fail with the same
        // rebuild contract as hydratedLayers, not an array-bounds throw
        // (ADVICE r15-2; checkLayers pass 4 only catches this offline)
        if (pos < 0) throw new IllegalStateException(
          s"hierarchy layer misses node $cur present in the layer above " +
            "— stale or corrupt hierarchy sidecar; rebuild with " +
            "buildHierarchy (buildHierarchyQuantized for code-space indexes)")
        val nbrs = adj(pos)
        var i = 0
        while (i < nbrs.length) {
          val cand = nbrs(i)
          val dd = g.nodeDist(cand, q)
          if (counters != null) counters(1) += 1
          if (dd < curD || (dd == curD && cand < cur)) {
            curD = dd; cur = cand; moved = true
          }
          i += 1
        }
      }
    }
    cur
  }

  /** [[searchRouted]] through the layer hierarchy: the same centroid-
    * ordered, triangle-bounded probe schedule, but each probed sub-graph
    * descends its upper layers to a near-optimal beam entry instead of
    * starting at the lowest id — the reference's two-phase walk
    * (knn/knn.cpp:455-537) composed with the engine's sub-graph routing.
    * EXACT at full ef (entry choice cannot change an exhaustive walk — the
    * oracle-checked configuration); at small ef the descent buys its value
    * at scale, where a fixed entry's localization cost grows with
    * sub-graph size and the descent's does not. Fails loudly if the index
    * has no hierarchy sidecar. */
  def searchRoutedHier(spark: SparkSession, indexPath: String, idCol: String,
                       query: Array[Float], k: Int, ef: Int,
                       eps: Double = 1e-4,
                       allowed: Option[Long => Boolean] = None,
                       adaptiveTermination: Boolean = false,
                       scoredAcc: org.apache.spark.util.LongAccumulator = null,
                       hierMin: Int = -1)
      : (DataFrame, Int) = {
    import spark.implicits._
    val (rows, probed) = searchRoutedHierRaw(spark, indexPath, query, k, ef,
      eps, allowed, adaptiveTermination, scoredAcc, hierMin)
    (rows.map { case (id, dist, _) => (id, dist) }.toSeq.toDF(idCol, "dist"),
      probed)
  }

  /** [[searchRoutedHier]] returning raw (id, dist, vector) rows — the form
    * the automatic route's [[graft.plans.GraphCandidates]] leaf feeds back
    * under the original Sort/Limit (exactly as [[searchRoutedRaw]]).
    * `hierMin` overrides the [[hierMinRows]] conf when >= 0 — the
    * automatic route captures the threshold AT REGISTRATION (ADVICE r16:
    * a gate forcing the descent via the global conf would otherwise have
    * to leave it set for the leaf's later executions, leaking
    * forced-descent behavior into the whole shared session). */
  def searchRoutedHierRaw(spark: SparkSession, indexPath: String,
                          query: Array[Float], k: Int, ef: Int,
                          eps: Double = 1e-4,
                          allowed: Option[Long => Boolean] = None,
                          adaptiveTermination: Boolean = false,
                          scoredAcc: org.apache.spark.util.LongAccumulator = null,
                          hierMin: Int = -1)
      : (Array[(Long, Double, Array[Float])], Int) = {
    val graph = loadGraph(spark, indexPath)
    val layers = loadLayers(spark, indexPath, graph.getNumPartitions)
    val qB = spark.sparkContext.broadcast(query)
    val f = allowed.getOrElse((_: Long) => true)
    val metric = routes(spark, indexPath)._1
    val adapt = adaptiveTermination
    val acc = scoredAcc
    val hmin = if (hierMin >= 0) hierMin else hierMinRows(spark)
    routedSchedule(spark, indexPath, query, k, eps,
      probes =>
        prunedWalk(graph, Some(layers), probes.contains) { (git, lit) =>
          searchSubGraph(git, qB.value, k, ef, metric, f, adapt, acc, lit,
            hmin)
        }.collect())
  }

  /** Whether `indexPath` currently has a layer-hierarchy sidecar (at its
    * RESOLVED generation) — lets the automatic route fail loudly at
    * registration instead of at first query. */
  def hasHierarchy(spark: SparkSession, indexPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(resolveLayersDir(spark, indexPath))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** [[walkStats]] through the hierarchy: per-sub-graph (pid, size,
    * nodesExpanded, distancesScored) where both counters INCLUDE the
    * descent's hops and scores — the honest comparison against the flat
    * walk's telemetry (BENCH_SF1 hier_telemetry reports both). */
  def walkStatsHier(spark: SparkSession, indexPath: String,
                    query: Array[Float], k: Int, ef: Int)
      : Array[(Int, Int, Long, Long)] = {
    val metric = routes(spark, indexPath)._1
    val graph = loadGraph(spark, indexPath)
    val layers = loadLayers(spark, indexPath, graph.getNumPartitions)
    val qB = spark.sparkContext.broadcast(query)
    graph.zipPartitions(layers, preservesPartitioning = true) { (git, lit) =>
      walkOne(git.toArray, lit, qB.value, k, ef, metric)
    }.collect()
  }

  /** BATCH KNN JOIN over a clustered graph index (r13 VERDICT #4 — the
    * missing third leg of the batch-retrieval surface beside [[Knn.knnJoin]]
    * (exact) and [[Ivf.knnJoin]] (list-probed)): every query row gets its
    * k nearest corpus ids, the bulk-retrieval shape of a training
    * pipeline ("each doc → its k neighbors").
    *
    * Shape: each query is assigned its `probes` nearest sub-graphs by
    * centroid distance in the bound space, and each sub-graph task
    * REHYDRATES ITS GRAPH ONCE and beam-walks every query assigned to it
    * — the per-partition build cost amortizes across the whole batch. A
    * batch within [[Knn.maxQueryBatch]] collects and broadcasts (the fast
    * arm: assignment on the driver, zero tasks for unprobed sub-graphs);
    * a larger batch NEVER touches the driver (r15 VERDICT #1) — it
    * pid-assigns distributed against the broadcast centroids, shuffles by
    * pid, and zips with the resident graph. The per-(query, sub-graph)
    * top-k rows merge through the same grouped top-k aggregator as the
    * other joins, so the output contract matches:
    * (qIdCol, cIdCol, dist, rn), rn 1..k by (dist, id).
    *
    * `probes >= sub-graph count` (the default) walks every sub-graph —
    * EXACT at full ef, the q_knn_join_graph gate configuration (shared
    * brute-force oracle with q_knn_join/_ivf); smaller `probes` is the
    * IVF-nprobe-style economy knob with the usual clustered-recall
    * contract. `hier = true` descends each probed sub-graph's layer
    * sidecar once per assigned query (the layers rehydrate ONCE per
    * sub-graph, like the graph itself) — so a hierarchy registration
    * serves its batch joins and its single queries through the same walk
    * (review r15-4). */
  def knnJoinRouted(spark: SparkSession, indexPath: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    cIdCol: String, k: Int, ef: Int,
                    probes: Int = Int.MaxValue,
                    hier: Boolean = false,
                    hierMin: Int = -1): DataFrame = {
    import spark.implicits._
    val (metric, rts) = routes(spark, indexPath)
    require(rts.nonEmpty, s"no route sidecar at ${routePath(indexPath)}")
    val nprobe = math.min(probes, rts.length)
    val graph = loadGraph(spark, indexPath)
    val layersOpt =
      if (hier) Some(loadLayers(spark, indexPath, graph.getNumPartitions))
      else None
    val kk = k
    val efEff = math.max(ef, kk)
    val hmin = if (hierMin >= 0) hierMin else hierMinRows(spark)
    // the shared per-sub-graph walk: ONE rehydrated graph (and layer set)
    // serves every query assigned to this pid
    val walk = (git: Iterator[(Int, GraphRow)],
                lt: Iterator[(Int, LayerRow)],
                assigned: Array[(Long, Array[Float])]) => {
      if (assigned.isEmpty) Iterator.empty[(Long, Long, Double)]
      else {
        val rows = git.toArray
        if (rows.isEmpty) Iterator.empty[(Long, Long, Double)]
        else {
          val g = rehydrate(rows.map(_._2), new FloatSpace(metric))
          val lyr = if (lt == null) null else hydratedLayers(g, lt, hmin)
          assigned.iterator.flatMap { case (qid, qv) =>
            val entry = if (lyr == null) 0 else descend(g, lyr, qv, null)
            val r = g.searchBeam(qv, efEff, g.n, entry = entry)
            Iterator.range(0, math.min(kk, r.size))
              .map(j => (qid, g.ids(r.id(j).toInt), r.value(j)))
          }
        }
      }
    }
    val perPart =
      Knn.boundedQueryBatch(queries, qIdCol, qVecCol,
        Knn.maxQueryBatch(spark, rts.head._2.length)) match {
        case Some(qRows) =>
          // IN-BUDGET: driver-side pid assignment (nprobe nearest
          // centroids per query, distances in the bound space), broadcast
          // map, ZERO tasks for unprobed sub-graphs
          val byPid: Map[Int, Array[(Long, Array[Float])]] = qRows
            .flatMap { case (qid, qv) =>
              val bq = Quantize.bindQuerySide(metric, qv)
              rts.map(r => (Ivf.scalarDist(Knn.L2, bq, r._2), r._1))
                .sortBy(identity).take(nprobe)
                .map { case (_, pid) => (pid, (qid, qv)) }
            }
            .groupBy(_._1).map { case (pid, xs) => pid -> xs.map(_._2) }
          val qB = spark.sparkContext.broadcast(byPid)
          prunedWalk(graph, layersOpt, byPid.contains) { (git, lt) =>
            val rows = git.toArray
            if (rows.isEmpty) Iterator.empty[(Long, Long, Double)]
            else walk(rows.iterator, lt,
              qB.value.getOrElse(rows.head._1,
                Array.empty[(Long, Array[Float])]))
          }
        case None =>
          // OVER-BUDGET (r15 VERDICT #1): the query side stays a
          // distributed dataset end to end — assignment is a flatMap
          // against the ≤nlist broadcast centroids, the shuffle
          // co-locates each query slice with its sub-graph, and the walk
          // zips the two. Per-task memory is the pid's query slice
          // (|Q|·nprobe / nlist on average), never the whole batch.
          zipWalk(graph, layersOpt,
            assignQueriesByPid(
              queries.select(col(qIdCol).cast("long"), col(qVecCol))
                .as[(Long, Array[Float])].rdd,
              spark, metric, rts,
              nprobe, graph.getNumPartitions, carryBound = false))(walk)
      }
    val scored = perPart.toDF("__qid", "__cid", "__dist")
    TopK.topKPairs(scored, qIdCol, cIdCol, k)
  }

  // ------------------------------------------------ quantized-space graph

  /** QUANTIZED-SPACE graph walk (r13 VERDICT #2 — the last reference KNN
    * capability: knn/knn.cpp:105-135 `HNSWDist_c` composes the quantizer
    * INTO the graph's space interface, so hnswlib builds and walks int8
    * codes, not floats; quantizer.cpp supplies the space). The Spark
    * shape: sub-graphs store dim-BYTE codes ([[CodeSpace]]) — 4× less
    * graph-resident memory per vector, the economics that let a
    * 1000-executor cluster keep billion-vector sub-graphs resident — the
    * beam walks code-space L2, and the beam's survivors (k·refine per
    * query) are EXACT-rescored against the raw float column, which never
    * enters the resident set (the reference rescans originals for
    * rescoring the same way).
    *
    * Exactness: the routed probe schedule prunes a sub-graph only when
    * its RAW-space triangle lower bound exceeds the kth-best COARSE
    * distance + the model's worst-case quantization error
    * ([[Quantize.QModel.l2ErrorBound]]): true-kth ≤ coarse-kth + E and
    * every node in a pruned sub-graph has true distance > that, so no
    * true top-k member is lost to routing. Within probed sub-graphs the
    * k·refine coarse-candidate contract is the SAME as
    * [[Quantize.searchRescore]] (q_knn_quant) — refine=8 keeps the true
    * top-k inside the coarse set on these fixtures, and
    * `q_knn_graph_quant` pins the equality against the exact fullscan
    * oracle at full ef. */
  def qmodelPath(indexPath: String): String = indexPath + "_qmodel"

  private val qgraphSchema = StructType(Seq(
    StructField("pid", IntegerType),
    StructField("id", LongType),
    StructField("qcode", BinaryType),
    StructField("neighbors", ArrayType(LongType))))

  /** Clustered build in CODE space: train the int8 model and the coarse
    * router on the BOUND-space vectors, quantize, then build every
    * sub-graph's links over the codes (build-time distances dequantize
    * inline — the same space the walk uses, as in the reference). Writes
    * the graph table (pid, id, qcode, neighbors), the `_route` sidecar
    * (bound-space centroids + radii), and the `_qmodel` sidecar.
    *
    * Metric-complete (r14 VERDICT #3; the reference serves EVERY
    * similarity through the quantized space — knn/knn.cpp:105-135
    * `HNSWDist_c` takes the similarity, space.cpp supplies the IP/cosine
    * kernels): L2 quantizes the raw vectors; COSINE quantizes the
    * unit-normalized companion (cosine distance of a unit pair is half
    * its squared L2 — the [[buildClusteredTo]] / Ivf.searchAdaptiveCosine
    * composition), so the code-space walk, the triangle bound, AND the
    * quantization-error slack all live in one consistent normalized-L2
    * space; the final rescore is the exact metric kernel on raw floats
    * either way. */
  def buildIndexClusteredQuantized(df: DataFrame, vecCol: String,
                                   idCol: String, path: String,
                                   p: Params = Params(),
                                   metric: Knn.Metric = Knn.L2)
      : (Ivf.Model, Quantize.QModel) = {
    // same guard as buildIndexClustered: a base-path rebuild under a
    // manifest-managed index would be silently ignored by readers that
    // resolve through the manifest (review r14)
    val fsQ = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    require(graft.index.SecondaryIndex.manifestVersions(fsQ, path).isEmpty,
      s"$path is manifest-managed: use compactQuantized, not a rebuild " +
        "at the base path (readers resolve through the manifest)")
    // sweep stale sidecars BEFORE the new graph lands (the
    // buildIndexClustered crash-ordering contract, review r18-9: a crash
    // AFTER the graph write but before a post-write delete would pair
    // the NEW graph with the OLD build's layer rows — hasHierarchy still
    // true, every hier walk stale; old _qerr rows would likewise inflate
    // the new model's prune slack). Delete-first leaves every crash
    // interleaving either old-consistent or loudly sidecar-less.
    fsQ.delete(new org.apache.hadoop.fs.Path(layersPath(path)), true)
    fsQ.delete(new org.apache.hadoop.fs.Path(qerrPath(path)), true)
    val out = buildQuantizedTo(df, vecCol, idCol, path, routePath(path),
      qmodelPath(path), p, metric)
    invalidateQuantized(path)
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
    out
  }

  /** The quantized clustered build against explicit target dirs — shared
    * by [[buildIndexClusteredQuantized]] (base-path layout) and
    * [[compactQuantized]] (immutable generation dirs). */
  private def buildQuantizedTo(df: DataFrame, vecCol: String, idCol: String,
                               graphDir: String, routeDir: String,
                               qmodelDir: String, p: Params,
                               metric: Knn.Metric)
      : (Ivf.Model, Quantize.QModel) = {
    import df.sparkSession.implicits._
    // IP (r19): codes, centroids and radii all live in the MIPS→L2
    // augmented space — the code-space walk, the triangle bound, AND the
    // quantization-error slack share one L2 geometry (the cosine
    // construction verbatim, with the augmented companion as the bound
    // space); the final rescore applies the exact 1−dot kernel to raw
    // floats.
    val ipM2 = if (metric == Knn.IP) Ivf.maxSumsq(df, vecCol) else 0.0
    val boundCol = if (metric == Knn.L2) vecCol else "__vbound"
    val base = if (metric == Knn.L2) df
               else df.withColumn(boundCol,
                 Quantize.boundSpaceCol(metric, col(vecCol), ipM2))
    val qm = Quantize.train(base, boundCol)
    val m = Ivf.train(base, boundCol, nlist = p.partitions, metric = Knn.L2)
    val assigned = Ivf.assign(base, boundCol, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val qmB = df.sparkSession.sparkContext.broadcast(qm)
      val keyed = assigned
        .select(col("ivf_cluster").cast("int").as("pid"),
          col(idCol).cast("long").as("id"), col(boundCol).as("vec"))
        .as[(Int, Long, Array[Float])]
        .rdd.map(t => (t._1, (t._2, qmB.value.encode(t._3))))
        .partitionBy(new PidPartitioner(p.partitions))
      val rowRdd = keyed.mapPartitionsWithIndex { (pid, it) =>
        val rows = it.map(_._2).toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val sorted = rows.sortBy(_._1).toArray
          val g = new SubGraph(sorted.map(_._1), sorted.map(_._2),
            new CodeSpace(qmB.value))
          g.build(p.m, p.efC)
          (0 until g.n).iterator.map { i =>
            Row(pid, g.ids(i), g.vecs(i), g.neighborIds(i))
          }
        }
      }
      val graph = df.sparkSession.createDataFrame(rowRdd, qgraphSchema)
      graft.tables.Writer.write(graph, graphDir, sortBy = Seq("pid", "id"),
        files = p.partitions)
      // route sidecar: bound-space radii (the triangle bound's space —
      // raw for L2, normalized for cosine, augmented for IP)
      writeRouteSidecar(assigned, boundCol, m, routeDir, metric,
        if (metric == Knn.IP) Some(math.sqrt(ipM2)) else None)
      val sidecar = Seq((qm.mins.toSeq, qm.maxs.toSeq)).toDF("mins", "maxs")
      graft.tables.Writer.write(sidecar, qmodelDir, sortBy = Seq())
      (m, qm)
    } finally assigned.unpersist(false)
  }

  /** Current (graph, route, qmodel, qerr) dirs of a quantized clustered
    * index: the generic [[resolveDirs]] resolution for graph/route, with
    * the qmodel/qerr sidecars living beside them — base-suffix paths for
    * the legacy layout, `qmodel`/`qerr` subdirs of the committed
    * generation for a [[compactQuantized]]-managed index. */
  private def resolveQuantizedDirs(spark: SparkSession, indexPath: String)
      : (String, String, String, String) = {
    val (g, r) = resolveDirs(spark, indexPath)
    if (g == indexPath) (g, r, qmodelPath(indexPath), qerrPath(indexPath))
    else {
      val gen = new org.apache.hadoop.fs.Path(g).getParent
      (g, r, new org.apache.hadoop.fs.Path(gen, "qmodel").toString,
        new org.apache.hadoop.fs.Path(gen, "qerr").toString)
    }
  }

  private type QGraphRow = (Long, Array[Byte], Array[Long])
  private val residentQ =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.rdd.RDD[(Int, QGraphRow)]]
  private val qmodelCache =
    scala.collection.concurrent.TrieMap.empty[String, Quantize.QModel]
  private val qerrCache =
    scala.collection.concurrent.TrieMap.empty[String, Double]

  /** Sidecar holding the OBSERVED max reconstruction error of appended
    * segments (one row per append). The model's [[Quantize.QModel.l2ErrorBound]]
    * only bounds vectors inside the trained [min,max] box; appended
    * vectors may clamp, so the error-slack prune must widen to the
    * observed worst case or it could lose a true top-k member. Absent for
    * a fresh build (the model bound suffices). */
  def qerrPath(indexPath: String): String = indexPath + "_qerr"

  /** The prune slack for a quantized index: max(model worst-case bound,
    * observed max reconstruction error across appended segments). A wider
    * slack only ever OVER-probes — exactness is one-sided — so segment
    * appends write the `_qerr` row BEFORE their graph rows (a crash in
    * between leaves a harmlessly-wide slack, never a too-tight one). */
  private def qerrBound(spark: SparkSession, indexPath: String,
                        qm: Quantize.QModel): Double =
    qerrCache.getOrElseUpdate(indexPath, {
      val dir = resolveQuantizedDirs(spark, indexPath)._4
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // an empty/unreadable dir (a crash during the FIRST append's qerr
      // write, before any data file committed) reads as 0.0 — the model
      // bound still serves, and the retried append rewrites the row
      // (review r15-2)
      val seg =
        if (fs.exists(p))
          try {
            val r = spark.read.parquet(dir).agg(max(col("max_err"))).head
            if (r.isNullAt(0)) 0.0 else r.getDouble(0)
          } catch { case _: org.apache.spark.sql.AnalysisException => 0.0 }
        else 0.0
      math.max(qm.l2ErrorBound, seg)
    })

  private def loadQuantizedGraph(spark: SparkSession, indexPath: String)
      : org.apache.spark.rdd.RDD[(Int, QGraphRow)] =
    residentQ.synchronized {
      residentQ.getOrElseUpdate(indexPath, {
        import spark.implicits._
        val df = spark.read.parquet(resolveQuantizedDirs(spark, indexPath)._1)
          .select(col("pid"), col("id"), col("qcode"), col("neighbors"))
        val maxPid = df.agg(max(col("pid"))).head
        if (maxPid.isNullAt(0)) spark.sparkContext.emptyRDD[(Int, QGraphRow)]
        else {
          val g = df.as[(Int, Long, Array[Byte], Array[Long])]
            .rdd.map(t => (t._1, (t._2, t._3, t._4)))
            .partitionBy(new PidPartitioner(maxPid.getInt(0) + 1))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          g.count()
          g
        }
      })
    }

  private def qmodel(spark: SparkSession, indexPath: String): Quantize.QModel =
    qmodelCache.getOrElseUpdate(indexPath, {
      val r = spark.read
        .parquet(resolveQuantizedDirs(spark, indexPath)._3).head()
      Quantize.QModel(r.getSeq[Float](r.fieldIndex("mins")).toArray,
        r.getSeq[Float](r.fieldIndex("maxs")).toArray)
    })

  /** Drop the resident copy of a quantized graph index. */
  def invalidateQuantized(indexPath: String): Unit = {
    residentQ.remove(indexPath).foreach(_.unpersist(false))
    residentL.remove(indexPath).foreach(_.unpersist(false))
    qmodelCache.remove(indexPath)
    qerrCache.remove(indexPath)
    routeCache.remove(indexPath)
  }

  /** Routed top-k over a [[buildIndexClusteredQuantized]] index: probe
    * sub-graphs in centroid-distance order (same doubling schedule as
    * [[searchRoutedRaw]]), walk each probed sub-graph in CODE space, keep
    * k·refine coarse survivors, and prune the schedule with the
    * error-slack triangle bound; one exact rescore of the merged
    * survivors against `raw` (the float table) ends the query. Under
    * COSINE every routing/walk/prune quantity lives in the normalized-L2
    * bound space the index was built in (normalized-L2 order IS cosine
    * order on a unit sphere), and only the final rescore applies the
    * exact cosine kernel to the raw floats — so the error-slack argument
    * is the L2 one verbatim. Returns (top-k DataFrame with [[Knn.knn]]'s
    * contract, sub-graphs probed). */
  def searchQuantized(spark: SparkSession, indexPath: String,
                      raw: DataFrame, vecCol: String, idCol: String,
                      query: Array[Float], k: Int, ef: Int,
                      refine: Int = 8,
                      allowed: Option[Long => Boolean] = None,
                      hier: Boolean = false)
      : (DataFrame, Int) = {
    import spark.implicits._
    val metric = routes(spark, indexPath)._1
    val (ids, probed) =
      searchQuantizedCoarse(spark, indexPath, query, k, ef, refine, allowed,
        hier)
    val survivors = raw.join(ids.toDF(idCol), Seq(idCol))
    (Knn.knn(survivors, vecCol, idCol, query, k, metric), probed)
  }

  /** The code-space coarse pass of [[searchQuantized]]: routed probe loop
    * over the resident quantized graph, returning the merged k·refine
    * coarse survivor IDS (dist-asc) and the probe count. Split out so the
    * automatic route's leaf ([[graft.plans.GraphCandidates]] with
    * `quantized = true`) can run the walk and fetch raw vectors itself —
    * the untouched Sort/Limit above the splice IS the exact rescore.
    * `allowed` gates the beam exactly as in [[searchRoutedRaw]] (K3):
    * traversal crosses disallowed nodes, only allowed enter the result
    * set, and the < k survivor case keeps the loop probing (over-probe).
    * `hier = true` walks each probed sub-graph from its layer-hierarchy
    * descent entry ([[buildHierarchyQuantized]]'s code-space layers)
    * instead of the lowest id — the reference's layered quantized index
    * composed; the coarse k·refine contract and the error-slack prune are
    * unchanged (entry choice cannot change an exhaustive full-ef walk). */
  def searchQuantizedCoarse(spark: SparkSession, indexPath: String,
                            query: Array[Float], k: Int, ef: Int,
                            refine: Int = 8,
                            allowed: Option[Long => Boolean] = None,
                            hier: Boolean = false,
                            hierMin: Int = -1)
      : (Seq[Long], Int) = {
    val (metric, rts) = routes(spark, indexPath)
    val qm = qmodel(spark, indexPath)
    val err = qerrBound(spark, indexPath, qm)
    // the bound-space query: raw for L2, unit-normalized for cosine (the
    // space the codes, centroids, and radii were all built in)
    val bq = Quantize.bindQuerySide(metric, query)
    val centDist = rts.map(r => r._1 -> Ivf.scalarDist(Knn.L2, bq, r._2)).toMap
    val radius = rts.map(r => r._1 -> r._3).toMap
    val order = rts.map(_._1).sortBy(centDist)
    def bound(pid: Int): Double = centDist(pid) - radius(pid)
    val graph = loadQuantizedGraph(spark, indexPath)
    val layersOpt =
      if (hier) Some(loadLayers(spark, indexPath, graph.getNumPartitions))
      else None
    val f = allowed.getOrElse((_: Long) => true)
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val qB = spark.sparkContext.broadcast((qm, bq, f))
    val keep = Knn.refineKeep(k, refine)
    val efEff = ef
    val hmin = if (hierMin >= 0) hierMin else hierMinRows(spark)
    // the shared per-partition code-space walk; `lt` carries the layer
    // rows on the hier path (null = flat lowest-id entry)
    val walk = (it: Iterator[(Int, QGraphRow)],
                lt: Iterator[(Int, LayerRow)]) => {
      val part = it.map(_._2).toArray
      if (part.isEmpty) Iterator.empty[(Double, Long)]
      else {
        val (mm, q, fv) = qB.value
        val g = rehydrate(part, new CodeSpace(mm))
        val entry =
          if (lt == null) 0
          else descend(g, hydratedLayers(g, lt, hmin), q, null)
        val r = g.searchBeam(q, math.max(efEff, keep), g.n,
          allowed = i => fv(g.ids(i)), entry = entry)
        Iterator.range(0, math.min(keep, r.size))
          .map(j => (r.value(j), g.ids(r.id(j).toInt)))
      }
    }
    var remaining: Seq[Int] = order.toSeq
    var probed = 0
    var batch = spark.conf.getOption("spark.graft.graph.probeBatch")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    var cands: Seq[(Double, Long)] = Nil // coarse (dist, id) asc, ≤ keep
    while ({
      if (cands.size >= k)
        // prune on the COARSE kth best + worst-case quantization error:
        // true-kth ≤ coarse-kth + err, and every node in a pruned
        // sub-graph has true distance ≥ bound > that (a fortiori for the
        // allowed subset)
        remaining = remaining.filter(j => bound(j) <= cands(k - 1)._1 + err)
      remaining.nonEmpty
    }) {
      val probes = remaining.take(batch).toSet
      val rows = prunedWalk(graph, layersOpt, probes.contains)(walk).collect()
      cands = (cands ++ rows).sortBy(identity).take(keep)
      probed += probes.size
      probeRounds.incrementAndGet()
      remaining = remaining.drop(batch)
      batch *= 2
    }
    (cands.map(_._2), probed)
  }

  /** BATCH KNN JOIN over a quantized clustered graph index (r15 — the
    * fourth leg of the batch-retrieval surface beside [[Knn.knnJoin]]
    * (exact), [[Ivf.knnJoin]] (list-probed), and [[knnJoinRouted]] (raw
    * graph)): same assignment shape as [[knnJoinRouted]] — each
    * probed sub-graph rehydrates its CODE graph ONCE and beam-walks every
    * query assigned to it; a batch within [[Knn.maxQueryBatch]] collects
    * and broadcasts (zero tasks for unprobed sub-graphs), a larger one
    * pid-assigns distributed and never touches the driver — with
    * the quantized serving contract: each (query, sub-graph) keeps
    * k·refine COARSE survivors, and the merged candidate set is
    * exact-rescored against the raw float table in one codegen join
    * (floats never enter the resident set; the query side of the rescore
    * is the broadcast batch). `probes` >= sub-graph count at full ef
    * keeps every true neighbor inside some probed sub-graph's coarse
    * k·refine — the per-sub-graph union is a SUPERSET of the single-query
    * walk's globally-merged coarse set, so the gate shares the
    * brute-force oracle; smaller `probes` is the usual clustered-recall
    * economy knob. Output contract matches the other joins:
    * (qIdCol, cIdCol, dist, rn), rn 1..k by (dist, id). */
  def knnJoinQuantized(spark: SparkSession, indexPath: String,
                       raw: DataFrame, rawIdCol: String, rawVecCol: String,
                       queries: DataFrame, qIdCol: String, qVecCol: String,
                       cIdCol: String, k: Int, ef: Int,
                       refine: Int = 8,
                       probes: Int = Int.MaxValue,
                       hier: Boolean = false,
                       hierMin: Int = -1): DataFrame = {
    import spark.implicits._
    val (metric, rts) = routes(spark, indexPath)
    require(rts.nonEmpty, s"no route sidecar at ${routePath(indexPath)}")
    val qm = qmodel(spark, indexPath)
    val nprobe = math.min(probes, rts.length)
    val graph = loadQuantizedGraph(spark, indexPath)
    val layersOpt =
      if (hier) Some(loadLayers(spark, indexPath, graph.getNumPartitions))
      else None
    val keep = Knn.refineKeep(k, refine)
    val efEff = math.max(ef, keep)
    val qmB = spark.sparkContext.broadcast(qm)
    val hmin = if (hierMin >= 0) hierMin else hierMinRows(spark)
    // the shared per-sub-graph CODE walk; queries arrive in the BOUND
    // space (normalized for cosine — the space the codes were trained in)
    val walk = (git: Iterator[(Int, QGraphRow)],
                lt: Iterator[(Int, LayerRow)],
                assigned: Array[(Long, Array[Float])]) => {
      if (assigned.isEmpty) Iterator.empty[(Long, Long)]
      else {
        val rows = git.toArray
        if (rows.isEmpty) Iterator.empty[(Long, Long)]
        else {
          // ONE rehydrated code graph (and layer set) serves every
          // assigned query
          val g = rehydrate(rows.map(_._2), new CodeSpace(qmB.value))
          val lyr = if (lt == null) null else hydratedLayers(g, lt, hmin)
          assigned.iterator.flatMap { case (qid, bq) =>
            val entry = if (lyr == null) 0 else descend(g, lyr, bq, null)
            val r = g.searchBeam(bq, efEff, g.n, entry = entry)
            Iterator.range(0, math.min(keep, r.size))
              .map(j => (qid, g.ids(r.id(j).toInt)))
          }
        }
      }
    }
    // (rescore query side, (qid, coarse-survivor-cid) rows)
    val (qDf, perPart) =
      Knn.boundedQueryBatch(queries, qIdCol, qVecCol,
        Knn.maxQueryBatch(spark, qm.dim)) match {
        case Some(qRows) =>
          val byPid: Map[Int, Array[(Long, Array[Float])]] = qRows
            .flatMap { case (qid, qv) =>
              val bq = Quantize.bindQuerySide(metric, qv)
              rts.map(r => (Ivf.scalarDist(Knn.L2, bq, r._2), r._1))
                .sortBy(identity).take(nprobe)
                .map { case (_, pid) => (pid, (qid, bq)) }
            }
            .groupBy(_._1).map { case (pid, xs) => pid -> xs.map(_._2) }
          val qB = spark.sparkContext.broadcast(byPid)
          // the rescore side IS the collected batch (never a second
          // evaluation of the queries plan — review r16-2: a
          // non-deterministic query source must feed the walk and the
          // rescore the same rows)
          val qDf = broadcast(qRows.toSeq.toDF("__qid", "__qvec"))
          (qDf, prunedWalk(graph, layersOpt, byPid.contains) { (git, lt) =>
            val rows = git.toArray
            if (rows.isEmpty) Iterator.empty[(Long, Long)]
            else walk(rows.iterator, lt,
              qB.value.getOrElse(rows.head._1,
                Array.empty[(Long, Array[Float])]))
          })
        case None =>
          // OVER-BUDGET (r15 VERDICT #1): distributed pid assignment —
          // the query side never touches the driver; the walk consumes
          // the bound-space vector (carryBound), the rescore reads the
          // raw one back through a shuffle equi-join on __qid (no
          // broadcast of a huge side). Both consume the SAME persisted
          // projection, so a nondeterministic query source cannot feed
          // the walk and the rescore different rows (ADVICE r16).
          val qRdd = Knn.persistedQueryRdd(queries, qIdCol, qVecCol)
          (spark.createDataset(qRdd).toDF("__qid", "__qvec"),
            zipWalk(graph, layersOpt,
              assignQueriesByPid(qRdd, spark, metric, rts,
                nprobe, graph.getNumPartitions, carryBound = true))(walk))
      }
    // multi-probe duplicates collapse before the rescore join
    val cands = perPart.toDF("__qid", "__cid").distinct()
    val rawSel = raw.select(col(rawIdCol).cast("long").as("__cid"),
      col(rawVecCol).as("__cvec"))
    val dist = metric match {
      case Knn.Cosine =>
        lit(1.0) - distances.cosineSim(col("__qvec"), col("__cvec"))
      case Knn.IP =>
        lit(1.0) - distances.ipScore(col("__qvec"), col("__cvec"))
      case _ => distances.l2Dist(col("__qvec"), col("__cvec"))
    }
    val scored = cands.join(qDf, "__qid").join(rawSel, "__cid")
      .select(col("__qid"), col("__cid"), dist.cast("double").as("__dist"))
    TopK.topKPairs(scored, qIdCol, cIdCol, k)
  }

  /** I9 for the QUANTIZED graph family — the reference's RT per-segment
    * build applies to whatever index type the column has
    * (knn/knn.cpp:638-786 with the quantized space of knn.cpp:105-135):
    * assign the new batch to the EXISTING route centroids (no coarse
    * retrain), encode it with the EXISTING int8 model (the frozen-model
    * contract of [[Quantize.appendSegment]]), build fresh CODE-space
    * segment sub-graphs under new pids, and append graph + route rows.
    * [[searchQuantized]] unions segments through the same error-slack
    * schedule and stays exact at full ef mid-segment.
    *
    * Appended vectors may fall OUTSIDE the model's trained [min,max] box
    * (they clamp — the model bound no longer covers their reconstruction
    * error), so the append measures the batch's ACTUAL max reconstruction
    * error in the encode pass and records it in the `_qerr` sidecar,
    * which [[searchQuantized]] folds into its prune slack. The sidecar
    * row is written FIRST: a slack wider than needed only over-probes
    * (exactness is one-sided), so a crash between the sidecar and the
    * graph append is harmless, while the reverse order could serve a
    * too-tight slack. Heavy drift inflates the slack toward probe-
    * everything (correct, slower) — the signal to rebuild/retrain. */
  def appendSegmentQuantized(newRows: DataFrame, vecCol: String,
                             idCol: String, indexPath: String,
                             p: Params = Params()): Unit = {
    val spark = newRows.sparkSession
    import spark.implicits._
    val (graphDir, routeDir, _, qerrDir) =
      resolveQuantizedDirs(spark, indexPath)
    val ri = routeInfo(spark, indexPath)
    val (metric, rts) = (ri.metric, ri.rts)
    require(rts.nonEmpty,
      s"no route sidecar rows at $routeDir — " +
        "appendSegmentQuantized maintains a buildIndexClusteredQuantized index")
    val qm = qmodel(spark, indexPath)
    val qmB = spark.sparkContext.broadcast(qm)
    // IP binds with the BUILD's stored M (frozen-model contract — the
    // codes were trained in that augmented space). Over-M rows clamp,
    // and in the CODE family a clamp breaks the augmented-L2 == IP-order
    // identity for those rows — the refine margin cannot bound the
    // misranking (unlike the trained-box drift _qerr covers), so refuse
    // loudly; compactQuantized re-estimates M (r19 review).
    val ipM2 = if (metric == Knn.IP) {
      val mn = ri.ipMaxNorm.get
      requireBatchUnderM(newRows, vecCol, mn, indexPath)
      mn * mn
    } else 0.0
    val boundCol = if (metric == Knn.L2) vecCol else "__vbound"
    val base = if (metric == Knn.L2) newRows
               else newRows.withColumn(boundCol,
                 Quantize.boundSpaceCol(metric, col(vecCol), ipM2))
    // next free pid from both the sidecar and the graph files (same
    // crash-orphan reasoning as the raw appendSegment)
    val maxPid = math.max(
      rts.map(_._1).max,
      graft.stats.Stats.minMax(graphDir, "pid") match {
        case Some((_, mx: Int)) => mx
        case _ => Int.MinValue
      })
    val cents: Seq[Array[Float]] =
      rts.map(_._2.toSeq).distinct.map(_.toArray)
    val model = Ivf.Model(cents, Knn.L2)
    val assigned = Ivf.assign(base, boundCol, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE encode pass serves both the observed-error measurement and the
    // sub-graph build (review r15-2: encoding twice doubled the batch's
    // int8 work): (cluster, id, code, recon-error) persists, the error
    // aggregate and the graph build both read the cache.
    val encoded = assigned
      .select(col("ivf_cluster").cast("int").as("ci"),
        col(idCol).cast("long").as("id"), col(boundCol).as("vec"))
      .as[(Int, Long, Array[Float])]
      .map { case (ci, id, v) =>
        val code = qmB.value.encode(v)
        // QModel.l2(code, v) IS ‖v − deq(quant(v))‖
        (ci, id, code, qmB.value.l2(code, v))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val errRow = encoded.toDF("ci", "id", "code", "e")
        .agg(max(col("e"))).head
      if (errRow.isNullAt(0)) return // empty batch: nothing to append
      Seq(errRow.getDouble(0)).toDF("max_err")
        .write.mode("append").parquet(qerrDir)
      val offset = maxPid + 1
      val keyed = encoded
        .rdd.map(t => (t._1, (t._2, t._3)))
        .partitionBy(new PidPartitioner(cents.length))
      val rowRdd = keyed.mapPartitionsWithIndex { (ci, it) =>
        val rows = it.map(_._2).toSeq
        if (rows.isEmpty) Iterator.empty
        else {
          val sorted = rows.sortBy(_._1).toArray
          val g = new SubGraph(sorted.map(_._1), sorted.map(_._2),
            new CodeSpace(qmB.value))
          g.build(p.m, p.efC)
          (0 until g.n).iterator.map { i =>
            Row(offset + ci, g.ids(i), g.vecs(i),
              g.neighborIds(i))
          }
        }
      }
      spark.createDataFrame(rowRdd, qgraphSchema)
        .write.mode("append").parquet(graphDir)
      appendRouteRows(assigned, boundCol, cents, offset, metric, routeDir,
        ri.ipMaxNorm)
      // hierarchy follows ingest — CODE-space layers for the new pids
      if (hasHierarchy(spark, indexPath))
        appendSegmentLayers(spark, keyed, offset, new CodeSpace(qm),
          p, indexPath)
    } finally {
      encoded.unpersist(false)
      assigned.unpersist(false)
    }
    invalidateQuantized(indexPath)
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }

  /** I9 OPTIMIZE for the quantized graph family, with the same
    * OBJECT-STORE-SAFE commit protocol as [[compactClustered]]: rebuild
    * the WHOLE index into an immutable generation dir (graph/ route/
    * qmodel/ subdirs), commit with ONE manifest object, sweep stale
    * generations by name while retaining the previously-live one for a
    * cycle. Because the index stores CODES (floats never resident), the
    * rebuild takes the raw corpus `df` — the same table
    * [[searchQuantized]] rescores against. A compact RETRAINS the int8
    * model on the current corpus and resets the `_qerr` drift slack (the
    * fresh box covers every resident vector again) — the recovery path
    * when appended drift has inflated the slack toward probe-everything. */
  def compactQuantized(df: DataFrame, vecCol: String, idCol: String,
                       indexPath: String, p: Params = Params()): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(indexPath)
    val fs = base.getFileSystem(conf)
    val (graphDir, _, _, _) = resolveQuantizedDirs(spark, indexPath)
    val (metric, _) = routes(spark, indexPath)
    val curVersion = graft.index.SecondaryIndex.manifestVersions(fs, indexPath)
      .headOption.map(_._1).getOrElse(0L)
    val nextVersion = curVersion + 1
    val nextPath = new org.apache.hadoop.fs.Path(s"${indexPath}__g$nextVersion")
    fs.delete(nextPath, true) // a crashed prior attempt at this version
    val (_, qm2) = buildQuantizedTo(df, vecCol, idCol,
      new org.apache.hadoop.fs.Path(nextPath, "graph").toString,
      new org.apache.hadoop.fs.Path(nextPath, "route").toString,
      new org.apache.hadoop.fs.Path(nextPath, "qmodel").toString, p, metric)
    // hierarchy-at-compaction (r15 VERDICT #7, same as [[compactClustered]]):
    // rebuild the code-space layers over the new graph with the RETRAINED
    // model, inside the same generation — the commit swaps them together
    if (hasHierarchy(spark, indexPath))
      buildLayersQuantizedTo(spark,
        new org.apache.hadoop.fs.Path(nextPath, "graph").toString, qm2,
        new org.apache.hadoop.fs.Path(nextPath, "layers").toString, p)
    commitGeneration(fs, base, indexPath, graphDir, nextVersion, nextPath,
      sidecarSuffixes = Seq("_route", "_qmodel", "_qerr", "_layers"))
    invalidateQuantized(indexPath)
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }
}
