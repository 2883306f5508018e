package graft.vector

import graft.index.Commit
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import org.apache.spark.util.LongAccumulator

import scala.collection.concurrent.TrieMap
import scala.reflect.ClassTag

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
  * `searchRouted(hier = true)`) for deployments whose sub-graphs grow past
  * that regime. Insertion in
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
  * One clustered graph, two node spaces (the reference hands hnswlib a raw
  * or a quantized space from one constructor, knn/knn.cpp:105-135): a
  * clustered index holds float vectors ([[buildIndexClustered]], column
  * `vec`, walked under the index metric) or int8 codes
  * ([[buildIndexClusteredQuantized]], column `qcode` plus a `_qmodel`
  * sidecar, walked in the bound space with k·refine survivors rescored
  * exactly). The space is read once per path beside the route sidecar, so
  * build, walk, batch join, append, rebuild and invalidation are each one
  * body over [[Space]]; callers never pick a twin.
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
    /** True for codes: nodes hold the index's BOUND-space vectors (raw for
      * L2, normalized for cosine, augmented for IP) and walk under L2
      * against the bound query. False for floats: raw vectors walked under
      * the index metric. */
    def bound: Boolean
    /** Node payload of a build-side vector (the bound-space one for codes). */
    def encode(v: Array[Float]): V
    /** The float vector a walk result carries back — null for codes, whose
      * callers rescore against the raw table. */
    def vector(v: V): Array[Float]
    /** Graph-table payload column, its SQL type, encoder and class tag. */
    def column: String
    def sqlType: DataType
    def encoder: Encoder[V]
    def tag: ClassTag[V]
  }

  private[vector] final class FloatSpace(metric: Knn.Metric)
      extends Space[Array[Float]] {
    def dist(v: Array[Float], q: Array[Float]): Double =
      Ivf.scalarDist(metric, v, q)
    def toQuery(v: Array[Float]): Array[Float] = v
    def bound: Boolean = false
    def encode(v: Array[Float]): Array[Float] = v
    def vector(v: Array[Float]): Array[Float] = v
    def column: String = "vec"
    def sqlType: DataType = ArrayType(FloatType)
    def encoder: Encoder[Array[Float]] = ExpressionEncoder[Array[Float]]()
    val tag: ClassTag[Array[Float]] = ClassTag(classOf[Array[Float]])
  }

  /** int8-code space: the graph holds dim-byte codes (4× smaller resident
    * set than float32) and every walk distance dequantizes inline —
    * identical arithmetic to [[Quantize.QModel.l2]]'s coarse screen. */
  private[vector] final class CodeSpace(val m: Quantize.QModel)
      extends Space[Array[Byte]] {
    def dist(v: Array[Byte], q: Array[Float]): Double = m.l2(v, q)
    def toQuery(v: Array[Byte]): Array[Float] =
      Array.tabulate(m.dim)(i => m.dequantize(v(i), i))
    def bound: Boolean = true
    def encode(v: Array[Float]): Array[Byte] = m.encode(v)
    def vector(v: Array[Byte]): Array[Float] = null
    def column: String = "qcode"
    def sqlType: DataType = BinaryType
    def encoder: Encoder[Array[Byte]] = Encoders.BINARY
    val tag: ClassTag[Array[Byte]] = ClassTag(classOf[Array[Byte]])
  }

  private def spaceOf(metric: Knn.Metric,
                      qm: Option[Quantize.QModel]): Space[_] =
    qm.fold[Space[_]](new FloatSpace(metric))(new CodeSpace(_))

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

  private type Node[V] = (Long, V, Array[Long]) // (id, payload, neighbor ids)
  private lazy val LongsEnc: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  /** Graph-table schema for nodes of `space`: (pid, id, payload, neighbors). */
  private def graphSchema(space: Space[_]): StructType = StructType(Seq(
    StructField("pid", IntegerType),
    StructField("id", LongType),
    StructField(space.column, space.sqlType),
    StructField("neighbors", ArrayType(LongType))))

  /** A graph table's (pid, (id, payload, neighbors)) rows, typed by `space`. */
  private def graphRows[V](df: DataFrame, space: Space[V]): RDD[(Int, Node[V])] =
    df.select(col("pid"), col("id"), col(space.column), col("neighbors"))
      .as(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, space.encoder,
        LongsEnc))
      .rdd.map(t => (t._1, (t._2, t._3, t._4)))

  /** Build one sub-graph over its (id, payload) rows; its graph-table rows. */
  private def buildOne[V](rows: Iterator[(Long, V)], pid: Int, p: Params,
                          space: Space[V]): Iterator[Row] = {
    val sorted = rows.toArray.sortBy(_._1)
    if (sorted.isEmpty) Iterator.empty
    else {
      val g = new SubGraph(sorted.map(_._1), sorted.map(_._2)(space.tag), space)
      g.build(p.m, p.efC)
      (0 until g.n).iterator.map { i =>
        Row(pid, g.ids(i), g.vecs(i), g.neighborIds(i))
      }
    }
  }

  /** Shuffle `(pid, id, vecCol)` rows into one Spark partition per pid,
    * encode each vector into its node payload, build each sub-graph there,
    * write the graph table range-clustered by (pid, id). */
  private def writeGraph[V](df: DataFrame, pidCol: Column, vecCol: String,
                            idCol: String, path: String, p: Params,
                            space: Space[V]): Unit = {
    import df.sparkSession.implicits._
    val keyed = df
      .select(pidCol.cast("int"), col(idCol).cast("long"), col(vecCol))
      .as[(Int, Long, Array[Float])]
      .rdd.map(t => (t._1, (t._2, space.encode(t._3))))
      .partitionBy(new PidPartitioner(p.partitions))
    val rowRdd = keyed.mapPartitionsWithIndex((pid, it) =>
      buildOne(it.map(_._2), pid, p, space))
    graft.tables.Writer.write(
      df.sparkSession.createDataFrame(rowRdd, graphSchema(space)), path,
      sortBy = Seq("pid", "id"), files = p.partitions)
  }

  /** Sidecar names of a clustered index, for both node spaces. */
  private val Sidecars = Seq("route", "layers", "qmodel", "qerr")

  /** Base-layout location of a graph index part: the graph at the path
    * itself, each sidecar at `<path>_<name>`. */
  private def baseDir(path: String, name: String): String =
    if (name == "graph") path else s"${path}_$name"

  /** The preamble of every base-path build. A manifest-managed index is
    * refused (readers resolve through the manifest, so a base-path rebuild
    * would be silently ignored; it is maintained through the compactions).
    * Then the sidecars of BOTH node spaces are swept BEFORE the new graph
    * lands (ADVICE r16-1): route and layer rows name the old build's
    * pids/ids, an old `_qmodel` would label a float graph as codes, and old
    * `_qerr` rows would inflate the prune slack. Delete-first leaves every
    * crash interleaving either fully old or loudly sidecar-less, never a
    * new graph paired with the old build's centroids/radii (review r15-5,
    * r18-9). */
  private def sweepForBuild(spark: SparkSession, path: String): Unit = {
    Commit.requireUnmanaged(spark, path, "compactClustered / compactQuantized")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sidecars.foreach(s => fs.delete(new Path(baseDir(path, s)), true))
  }

  /** Build the partitioned graph index and write it as a Parquet table,
    * range-clustered by (pid, id). One shuffle of (id, vec); the graph
    * construction is per-partition CPU work with no driver involvement.
    * A sub-graph (ids, vectors, adjacency) must fit one task's memory —
    * the same residency assumption as the reference's mmap'd hnswlib. */
  def buildIndex(df: DataFrame, vecCol: String, idCol: String, path: String,
                 p: Params = Params(), metric: Knn.Metric = Knn.L2): Unit = {
    sweepForBuild(df.sparkSession, path)
    writeGraph(df, pmod(col(idCol).cast("long"), lit(p.partitions)),
      vecCol, idCol, path, p, new FloatSpace(metric))
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
                          metric: Knn.Metric = Knn.L2): Ivf.Model =
    buildClustered(df, vecCol, idCol, path, p, metric, codes = false)._1

  /** Clustered build in CODE space (r13 VERDICT #2 — the reference composes
    * the quantizer INTO the graph's space, knn/knn.cpp:105-135): train the
    * int8 model and the coarse router on the BOUND-space vectors, quantize,
    * then build every sub-graph's links over the codes (build-time
    * distances dequantize inline — the same space the walk uses). Writes
    * the graph table (pid, id, qcode, neighbors), the `_route` sidecar
    * (bound-space centroids + radii) and the `_qmodel` sidecar. Sub-graphs
    * store dim-BYTE codes — 4× less resident memory per vector — and the
    * raw float column never enters the resident set: the beam's k·refine
    * survivors are rescored exactly against it ([[searchQuantized]]).
    *
    * Metric-complete (r14 VERDICT #3, r19): L2 quantizes the raw vectors,
    * COSINE the unit-normalized companion (cosine distance of a unit pair
    * is half its squared L2), IP the MIPS→L2 augmented companion — so the
    * code-space walk, the triangle bound AND the quantization-error slack
    * share one L2 geometry; the final rescore is the exact metric kernel
    * on raw floats. */
  def buildIndexClusteredQuantized(df: DataFrame, vecCol: String,
                                   idCol: String, path: String,
                                   p: Params = Params(),
                                   metric: Knn.Metric = Knn.L2)
      : (Ivf.Model, Quantize.QModel) = {
    val (m, qm) = buildClustered(df, vecCol, idCol, path, p, metric, codes = true)
    (m, qm.get)
  }

  private def buildClustered(df: DataFrame, vecCol: String, idCol: String,
                             path: String, p: Params, metric: Knn.Metric,
                             codes: Boolean)
      : (Ivf.Model, Option[Quantize.QModel]) = {
    sweepForBuild(df.sparkSession, path)
    val out = buildClusteredTo(df, vecCol, idCol, baseDir(path, _), p,
      metric, codes)
    // a rebuild at the same path invalidates the resident copy and any
    // automatic-routing entry that froze the old graph (same contract as
    // Ivf.buildIndex)
    invalidate(path)
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
    out
  }

  /** The clustered build against explicit target dirs (`dir` maps a part
    * name — graph, route, qmodel — to its dir) — shared by the base-path
    * builds and the generation rebuild of [[rebuildClustered]]. */
  private def buildClusteredTo(df: DataFrame, vecCol: String, idCol: String,
                               dir: String => String, p: Params,
                               metric: Knn.Metric, codes: Boolean)
      : (Ivf.Model, Option[Quantize.QModel]) = {
    import df.sparkSession.implicits._
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
    val qm = if (codes) Some(Quantize.train(base, boundCol)) else None
    val m = Ivf.train(base, boundCol, nlist = p.partitions, metric = Knn.L2)
    // persisted: the graph write and the radius aggregation are separate
    // actions, and the assignment (normalize + nearest-of-nlist per row)
    // is a full corpus pass that must not run twice
    val assigned = Ivf.assign(base, boundCol, m).persist(MEMORY_AND_DISK)
    try {
      // float sub-graphs store and beam-search the RAW vectors under
      // `metric` (for IP the walk's 1−dot values order exactly as
      // augmented L2, and hnswlib builds its IP graphs over the raw ip
      // distance too — knn/knn.cpp:105-135 hands hnswlib an
      // InnerProductSpace); code sub-graphs quantize the bound space
      val space = spaceOf(metric, qm)
      writeGraph(assigned, col("ivf_cluster"),
        if (space.bound) boundCol else vecCol, idCol, dir("graph"), p, space)
      writeRoutes(assigned, boundCol, m.centroids, 0, metric,
        if (metric == Knn.IP) Some(math.sqrt(ipM2)) else None, dir("route"),
        append = false)
      qm.foreach(q => graft.tables.Writer.write(
        Seq((q.mins.toSeq, q.maxs.toSeq)).toDF("mins", "maxs"), dir("qmodel"),
        sortBy = Seq()))
      (m, qm)
    } finally assigned.unpersist(false)
  }

  /** Route-sidecar rows for pids `offset + cluster`: (pid, centroid, max
    * bound-space L2 radius, metric, IP bound M) — written fresh by a build
    * (offset 0), appended by a segment append. The IP augmentation bound M
    * rides every row (the graph family's metric marker — Ivf's ADC family
    * stores its M the same way); appends carry the BUILD's M verbatim — a
    * batch-local re-estimate would put the segment in a different
    * augmented space. */
  private def writeRoutes(assigned: DataFrame, boundCol: String,
                          cents: Seq[Array[Float]], offset: Int,
                          metric: Knn.Metric, ipMaxNorm: Option[Double],
                          routeDir: String, append: Boolean): Unit = {
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
      .withColumn("max_norm",
        ipMaxNorm.map(lit(_)).getOrElse(lit(null)).cast("double"))
    if (append) route.write.mode("append").parquet(routeDir)
    else graft.tables.Writer.write(route, routeDir, sortBy = Seq("pid"))
  }

  /** Sidecar location for the routing table of a clustered graph index. */
  def routePath(indexPath: String): String = baseDir(indexPath, "route")

  /** Current (graph dir, route dir) of a clustered index — the single
    * read-side entry point ([[loadGraph]]/[[index]]/[[appendSegment]] go
    * through it): [[Commit.resolve]]'s live dir, mapped to the layout by
    * [[partDir]]. */
  def resolveDirs(spark: SparkSession, indexPath: String): (String, String) = {
    val live = Commit.resolve(spark, indexPath)
    (partDir(indexPath, live, "graph"), partDir(indexPath, live, "route"))
  }

  /** Current dir of sidecar `name` (layers, qmodel, qerr). */
  private[vector] def sidecarDir(spark: SparkSession, indexPath: String,
                                 name: String): String =
    partDir(indexPath, Commit.resolve(spark, indexPath), name)

  /** Dir of part `name` (graph or a sidecar) of the index whose live dir
    * is `live`: `<path>_<name>` in the legacy base layout (the graph at
    * the path itself), `<name>/` inside a committed generation
    * ([[compactClustered]]'s commit). */
  private def partDir(indexPath: String, live: String, name: String): String =
    if (live == indexPath) baseDir(indexPath, name)
    else new Path(live, name).toString

  /** I9 for the graph family — the reference's RT per-segment KNN build
    * (each ingested segment gets its own index built under the shared
    * settings: builder train/add/save, knn/knn.cpp:638-786,
    * knn/knn.h:135-144), in whichever node space the index holds: assign
    * the new batch to the EXISTING sidecar centroids (no retrain — the
    * coarse quantizer is the shared "model"; codes also keep the frozen
    * int8 model, the contract of [[Quantize.appendSegment]]), build fresh
    * SEGMENT sub-graphs for the batch's non-empty clusters under NEW pids,
    * and append their graph rows + route rows. Routed search unions
    * automatically: the schedule reads ALL route rows, several pids may
    * share a centroid, and the triangle bound holds per pid — routed
    * search stays EXACT (at full ef) mid-segment.
    *
    * Appended vectors may fall OUTSIDE a code model's trained [min,max]
    * box (they clamp — the model bound no longer covers their
    * reconstruction error), so a code append measures the batch's ACTUAL
    * max reconstruction error in its encode pass and records it in the
    * `_qerr` sidecar, which the routed prune folds into its slack. That
    * row is written FIRST: a slack wider than needed only over-probes
    * (exactness is one-sided), so a crash between it and the graph append
    * is harmless, while the reverse order could serve a too-tight slack.
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
                    indexPath: String, p: Params = Params()): Unit =
    appendIn(newRows, vecCol, idCol, indexPath, p,
      index(newRows.sparkSession, indexPath))

  private def appendIn[V](newRows: DataFrame, vecCol: String, idCol: String,
                          indexPath: String, p: Params, ix: Index[V]): Unit = {
    val spark = newRows.sparkSession
    import spark.implicits._
    val (graphDir, routeDir) = resolveDirs(spark, indexPath)
    val (metric, rts, space) = (ix.metric, ix.rts, ix.space)
    require(rts.nonEmpty,
      s"no route sidecar rows at $routeDir — appendSegment maintains a " +
        "buildIndexClustered / buildIndexClusteredQuantized index")
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
      rts.toSeq.map(_._2.toSeq).distinct.map(_.toArray)
    // IP binds with the BUILD's stored M (index() fails loudly on a lost
    // marker) — a batch-local re-estimate would assign/bound the segment
    // in a DIFFERENT augmented space than the existing pids'. And the
    // batch must FIT under M: the routed schedule's sphere bound assumes
    // ‖v'‖ = M for every row, so a clamped over-M append would let the
    // prune drop the sub-graph holding the true top-1 (and for codes it
    // breaks the augmented-L2 == IP-order identity beyond what the refine
    // margin covers) — the exact-at-full-ef contract breaks SILENTLY (r19
    // review), so refuse.
    val ipM2 = if (metric == Knn.IP) {
      val mn = ix.ipMaxNorm.get
      requireBatchUnderM(newRows, vecCol, mn, indexPath)
      mn * mn
    } else 0.0
    val boundCol = if (metric == Knn.L2) vecCol else "__vbound"
    val base = if (metric == Knn.L2) newRows
               else newRows.withColumn(boundCol,
                 Quantize.boundSpaceCol(metric, col(vecCol), ipM2))
    val assigned = Ivf.assign(base, boundCol, Ivf.Model(cents, Knn.L2))
      .persist(MEMORY_AND_DISK)
    // ONE encode pass serves both the observed-error measurement and the
    // sub-graph build (review r15-2): (cluster, id, payload, recon-error)
    // persists; for codes space.dist(code, v) IS ‖v − deq(quant(v))‖
    val encoded = assigned
      .select(col("ivf_cluster").cast("int"), col(idCol).cast("long"),
        col(if (space.bound) boundCol else vecCol))
      .as[(Int, Long, Array[Float])].rdd
      .map { case (ci, id, v) =>
        val c = space.encode(v)
        (ci, id, c, if (space.bound) space.dist(c, v) else 0.0)
      }
      .persist(MEMORY_AND_DISK)
    try {
      if (space.bound) {
        val err = encoded.map(_._4).fold(-1.0)(math.max)
        if (err < 0) return // empty batch: nothing to append
        Seq(err).toDF("max_err")
          .write.mode("append").parquet(sidecarDir(spark, indexPath, "qerr"))
      }
      val offset = maxPid + 1
      val keyed = encoded.map(t => (t._1, (t._2, t._3)))
        .partitionBy(new PidPartitioner(cents.length))
      val rowRdd = keyed.mapPartitionsWithIndex((ci, it) =>
        buildOne(it.map(_._2), offset + ci, p, space))
      spark.createDataFrame(rowRdd, graphSchema(space))
        .write.mode("append").parquet(graphDir)
      writeRoutes(assigned, boundCol, cents, offset, metric, ix.ipMaxNorm,
        routeDir, append = true)
      // THE HIERARCHY FOLLOWS INGEST (r16): layer rows for the new pids
      // append after the graph+route rows, so hier walks descend fresh
      // segments too. Deterministic (levels hash from ids — the rows a
      // full rebuild would emit) and crash-safe: a crash before this
      // append leaves the new pids on the flat-entry fallback.
      if (hasHierarchy(spark, indexPath))
        spark.createDataFrame(layerRows(keyed, offset, space, p), layerSchema)
          .write.mode("append").parquet(sidecarDir(spark, indexPath, "layers"))
    } finally {
      encoded.unpersist(false)
      assigned.unpersist(false)
    }
    invalidate(indexPath)
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }

  /** I9 OPTIMIZE for the clustered FLOAT graph, with the OBJECT-STORE-SAFE
    * generation commit of [[Commit.commitGeneration]]: re-cluster the full
    * corpus — read from the index itself, whose (id, vec) rows ARE the
    * dataset — into a new generation dir holding `graph/` + `route/`,
    * committed by ONE manifest object. [[resolveDirs]] prefers the
    * manifest, so readers swap atomically and every crash interleaving
    * leaves a readable index; the previous generation (a legacy base pair
    * included) is retained one cycle. A code graph holds no floats:
    * compact it with [[compactQuantized]]. */
  def compactClustered(spark: SparkSession, indexPath: String,
                       p: Params = Params()): Unit =
    rebuildClustered(spark, indexPath, p, "vec", "id")(
      graphCorpus(spark, indexPath, _))

  /** Row-DELETION maintenance for the clustered float graph (the ANN
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
    rebuildClustered(spark, indexPath, p, "vec", "id") { graphDir =>
      val corpus = graphCorpus(spark, indexPath, graphDir)
      corpus.join(del, corpus("id") === del("__delkey"), "left_anti")
    }
  }

  /** I9 OPTIMIZE for a code graph, with the same commit protocol as
    * [[compactClustered]]. Because the index stores CODES (floats never
    * resident), the rebuild takes the raw corpus `df` — the same table
    * [[searchQuantized]] rescores against. A compact RETRAINS the int8
    * model on the current corpus and resets the `_qerr` drift slack (the
    * fresh box covers every resident vector again) — the recovery path
    * when appended drift has inflated the slack toward probe-everything. */
  def compactQuantized(df: DataFrame, vecCol: String, idCol: String,
                       indexPath: String, p: Params = Params()): Unit =
    rebuildClustered(df.sparkSession, indexPath, p, vecCol, idCol)(_ => df)

  /** A float graph's (id, vec) rows — its corpus. */
  private def graphCorpus(spark: SparkSession, indexPath: String,
                          graphDir: String): DataFrame = {
    floatsOnly(index(spark, indexPath), indexPath,
      "compactClustered/deleteFromClustered", "compactQuantized")
    spark.read.parquet(graphDir).select(col("id"), col("vec"))
  }

  /** The generation-rebuild body of every compaction and deletion:
    * re-cluster + re-link `corpus(live graph dir)` in the index's node
    * space into a new generation dir, rebuild the hierarchy there when the
    * index had one, then commit ([[Commit.commitGeneration]]; a legacy
    * layout's sidecars — its `_layers` built over the OLD graph's pids —
    * are superseded with its graph). */
  private def rebuildClustered(spark: SparkSession, indexPath: String,
                               p: Params, vecCol: String, idCol: String)
                              (corpus: String => DataFrame): Unit = {
    Commit.commitGeneration(spark, indexPath, Sidecars) { (live, next) =>
      val ix = index(spark, indexPath)
      val dir = (name: String) => new Path(next, name).toString
      val (_, qm) = buildClusteredTo(corpus(partDir(indexPath, live, "graph")),
        vecCol, idCol, dir, p, ix.metric, ix.space.bound)
      // a hierarchy registration survives OPTIMIZE (r15 VERDICT #7): when
      // the superseded generation carried layers, rebuild them over the NEW
      // graph (codes: with the RETRAINED model) INSIDE the same uncommitted
      // generation dir — the manifest commit swaps graph + layers
      // atomically, so hier search never sees a generation without its
      // sidecar
      if (hasHierarchy(spark, indexPath))
        buildLayersTo(spark, dir("graph"), spaceOf(ix.metric, qm),
          dir("layers"), p)
    }
    invalidate(indexPath)
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }

  // Resident graphs (the reference keeps its HNSW mmap'd for the life of
  // the daemon — knn/knn.cpp Load; re-shuffling the index table per query
  // would be the 100 TB defect): first search of an index pays ONE
  // pid-shuffle and pins the grouped graph in executor storage
  // (MEMORY_AND_DISK); every later query scans cache partition-locally and
  // ships k rows per sub-graph to the driver. One map for both node
  // spaces, keyed by path, holding (payload column, grouped graph).
  private val resident = TrieMap.empty[String, (String, RDD[_])]

  /** Grouped, persisted graph for `indexPath`: identity-partitioned by pid
    * (one sub-graph per Spark partition, never split or doubled-up).
    * Rebuilding an index at the same path within a session requires
    * [[invalidate]] (every build and maintenance call does it). */
  private def loadGraph[V](spark: SparkSession, indexPath: String,
                           space: Space[V]): RDD[(Int, Node[V])] =
    // synchronized: TrieMap.getOrElseUpdate may evaluate the loader twice
    // under concurrent first searches, and the loser would leak a
    // persisted, counted RDD for the life of the session. Loads are rare;
    // the coarse lock only guards them.
    resident.synchronized {
      val (column, g) = resident.getOrElseUpdate(indexPath, {
        val dir = resolveDirs(spark, indexPath)._1
        val df = spark.read.parquet(dir)
        require(df.columns.contains(space.column),
          s"graph table at $dir has no ${space.column} column — its " +
            "_qmodel sidecar and graph disagree on the node space; rebuild " +
            "the index")
        val maxPid = df.agg(max(col("pid"))).head
        if (maxPid.isNullAt(0)) {
          // empty index table: empty search results, nothing to persist
          (space.column, spark.sparkContext.emptyRDD[(Int, Node[V])])
        } else {
          val g = graphRows(df, space)
            .partitionBy(new PidPartitioner(maxPid.getInt(0) + 1))
            .persist(MEMORY_AND_DISK)
          g.count() // materialize: later queries must never race the shuffle
          (space.column, g)
        }
      })
      require(column == space.column,
        s"$indexPath is resident with $column nodes, not ${space.column}")
      g.asInstanceOf[RDD[(Int, Node[V])]]
    }

  /** Drop everything served from an index path — its resident graph and
    * layers and its route/space record (call after rebuilding it; every
    * build and maintenance entry point does). */
  def invalidate(indexPath: String): Unit = {
    resident.remove(indexPath).foreach(_._2.unpersist(false))
    residentL.remove(indexPath).foreach(_.unpersist(false))
    indexes.remove(indexPath)
  }

  /** Rehydrate one partition's (id, payload, neighborIds) rows into a
    * [[SubGraph]] — the ONE shared walk-site loader. A dangling neighbor
    * id (e.g. after a corrupted partial append) fails loudly here, in one
    * place. */
  private[vector] def rehydrate[V](rows: Array[(Long, V, Array[Long])],
                                   space: Space[V]): SubGraph[V] = {
    val sorted = rows.sortBy(_._1)
    val g = new SubGraph(sorted.map(_._1), sorted.map(_._2)(space.tag), space)
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

  /** One partition's sub-graph and, when `lt` is non-null, its hierarchy
    * layers under the `hmin` gate (no layers = the flat lowest-id entry). */
  private def hydrate[V](rows: Array[(Int, Node[V])],
                         lt: Iterator[(Int, LayerRow)], hmin: Int,
                         space: Space[V]): (SubGraph[V], Layers) = {
    val g = rehydrate(rows.map(_._2), space)
    (g, if (lt == null) Array.empty else hydratedLayers(g, lt, hmin))
  }

  /** One sub-graph's walk — the task body of [[search]] and every routed
    * single search: rehydrate, descend to the beam entry when layers are
    * zipped in, beam at max(ef, keep), return the best `keep` as
    * (id, dist, carried vector). Vectors ride along for floats: the
    * automatic ANN route feeds candidates back under the original Sort,
    * which recomputes exact distances from them. */
  private def walkPart[V](it: Iterator[(Int, Node[V])],
                          lt: Iterator[(Int, LayerRow)], hmin: Int,
                          space: Space[V], q: Array[Float], keep: Int,
                          ef: Int, allowed: Long => Boolean,
                          adaptive: Boolean, acc: LongAccumulator)
      : Iterator[(Long, Double, Array[Float])] = {
    val rows = it.toArray
    if (rows.isEmpty) Iterator.empty
    else {
      val (g, layers) = hydrate(rows, lt, hmin, space)
      // small result sets complete before the discovery-rate signal means
      // anything — the reference disables quantile termination for k <= 10
      // (knn.cpp:481-483), mirrored here
      val term =
        if (adaptive && keep > 10)
          new Quantile.Termination(Quantile.L2ThresholdQuantile)
        else null
      val counters = if (acc != null) new Array[Long](2) else null
      val entry = descend(g, layers, q, counters)
      val r = g.searchBeam(q, math.max(ef, keep), g.n,
        i => allowed(g.ids(i)), term, counters, entry)
      if (acc != null) acc.add(counters(1))
      Iterator.range(0, math.min(keep, r.size)).map { j =>
        val i = r.id(j).toInt
        (g.ids(i), r.value(j), space.vector(g.vecs(i)))
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
    val space = new FloatSpace(metric)
    val perPart = loadGraph(spark, indexPath, space)
      .mapPartitions(it =>
        walkPart(it, null, 0, space, qB.value, k, ef, f, adapt, null)
          .map(t => (t._1, t._2)))
    spark.createDataset(perPart).toDF(idCol, "dist")
      .orderBy(col("dist").asc, col(idCol).asc).limit(k)
  }

  /** What one clustered index serves, read once per path beside its route
    * sidecar and dropped by [[invalidate]]: the route rows (metric, IP
    * augmentation bound M, per-pid centroid and radius) and the node space
    * its graph holds — int8 codes when a `_qmodel` sidecar sits beside the
    * graph, float vectors otherwise (every build sweeps both spaces'
    * sidecars first, and [[loadGraph]] checks the graph column agrees).
    * `slack` widens the routed prune: 0 for floats; for codes the worst
    * quantization error (see [[qerrPath]]). */
  private final case class Index[V](metric: Knn.Metric,
                                    ipMaxNorm: Option[Double],
                                    rts: Array[(Int, Array[Float], Double)],
                                    space: Space[V], slack: Double)

  private val indexes = TrieMap.empty[String, Index[_]]

  private def index(spark: SparkSession, indexPath: String): Index[_] =
    indexes.getOrElseUpdate(indexPath, {
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
      val rts = rows.map(r =>
        (r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2))).sortBy(_._1)
      val qmDir = new Path(sidecarDir(spark, indexPath, "qmodel"))
      val fs = qmDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(qmDir))
        Index(metric, norms.headOption, rts, new FloatSpace(metric), 0.0)
      else {
        val r = spark.read.parquet(qmDir.toString).head()
        val qm = Quantize.QModel(r.getSeq[Float](r.fieldIndex("mins")).toArray,
          r.getSeq[Float](r.fieldIndex("maxs")).toArray)
        // the prune slack: max(model worst-case bound, observed max
        // reconstruction error across appended segments). An empty/
        // unreadable `_qerr` (a crash during the FIRST append's write,
        // before any data file committed) reads as 0.0 — the model bound
        // still serves, and the retried append rewrites the row (review
        // r15-2)
        val qerr = new Path(sidecarDir(spark, indexPath, "qerr"))
        val seg =
          if (fs.exists(qerr))
            try {
              val e = spark.read.parquet(qerr.toString)
                .agg(max(col("max_err"))).head
              if (e.isNullAt(0)) 0.0 else e.getDouble(0)
            } catch { case _: org.apache.spark.sql.AnalysisException => 0.0 }
          else 0.0
        Index(metric, norms.headOption, rts, new CodeSpace(qm),
          math.max(qm.l2ErrorBound, seg))
      }
    })

  /** Fail loudly when a float-only entry point meets a code graph (a
    * rebuild may have changed the space the path holds). */
  private def floatsOnly(ix: Index[_], indexPath: String, api: String,
                         codeApi: String): Unit =
    require(!ix.space.bound,
      s"$api: $indexPath holds an int8 code graph " +
        s"(buildIndexClusteredQuantized) — serve it with $codeApi")

  /** The query a walk of `ix` scores: the bound-space query for codes (the
    * space the codes, centroids and radii were all built in), the raw one
    * for floats. */
  private def walkQuery(ix: Index[_], query: Array[Float]): Array[Float] =
    if (ix.space.bound) Quantize.bindQuerySide(ix.metric, query) else query

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
    * `hier = true` walks each probed sub-graph from its layer-hierarchy
    * descent entry ([[buildHierarchy]]) instead of the lowest id — the
    * reference's two-phase walk composed with the sub-graph routing; EXACT
    * at full ef either way (entry choice cannot change an exhaustive walk).
    * `hierMin` overrides the [[hierMinRows]] conf when >= 0 — the
    * automatic route captures the threshold AT REGISTRATION (ADVICE r16).
    * Fails loudly if the index has no hierarchy sidecar.
    *
    * Scale shape: selected sub-graphs run as tasks of a
    * PartitionPruningRDD over the resident graph — unprobed partitions are
    * never scheduled (0 tasks, not "tasks that return nothing"), and at
    * most two walk jobs ship k rows per walked sub-graph to the driver.
    *
    * Returns (top-k DataFrame, sub-graphs probed). */
  def searchRouted(spark: SparkSession, indexPath: String, idCol: String,
                   query: Array[Float], k: Int, ef: Int,
                   eps: Double = 1e-4,
                   allowed: Option[Long => Boolean] = None,
                   adaptiveTermination: Boolean = false,
                   scoredAcc: LongAccumulator = null,
                   hier: Boolean = false,
                   hierMin: Int = -1)
      : (DataFrame, Int) = {
    import spark.implicits._
    val (rows, probed) = searchRoutedRaw(spark, indexPath, query, k, ef,
      eps, allowed, adaptiveTermination, scoredAcc, hier, hierMin)
    (rows.map { case (id, dist, _) => (id, dist) }.toSeq.toDF(idCol, "dist"),
      probed)
  }

  /** The metric a clustered graph index was built under (from its route
    * sidecar — cached, a few rows read once per session). The automatic
    * ANN route consults this at REGISTRATION so plan time stays
    * metadata-free. */
  def indexMetric(spark: SparkSession, indexPath: String): Knn.Metric =
    index(spark, indexPath).metric

  /** Whether the clustered index at `indexPath` holds int8 codes. */
  private[graft] def holdsCodes(spark: SparkSession, indexPath: String): Boolean =
    index(spark, indexPath).space.bound

  /** [[searchRouted]] returning raw (id, dist, vector) rows, best-first —
    * the form [[graft.plans.AnnRoutingRule]]'s graph family feeds back
    * under the original Sort/Limit (which recomputes exact distances from
    * the vectors, keeping the routed plan's results identical to the
    * explicit API's). `scoredAcc`, when non-null, accumulates distances
    * scored across every sub-graph the walk jobs walked — the probe-savings
    * measurement behind the adaptive-termination knob (BenchScale reports
    * adaptive vs exact). Float graphs only: a code graph is served by
    * [[searchQuantized]]. */
  def searchRoutedRaw(spark: SparkSession, indexPath: String,
                      query: Array[Float], k: Int, ef: Int,
                      eps: Double = 1e-4,
                      allowed: Option[Long => Boolean] = None,
                      adaptiveTermination: Boolean = false,
                      scoredAcc: LongAccumulator = null,
                      hier: Boolean = false,
                      hierMin: Int = -1)
      : (Array[(Long, Double, Array[Float])], Int) = {
    floatsOnly(index(spark, indexPath), indexPath, "searchRouted",
      "searchQuantized")
    walkRouted(spark, indexPath, query, k, ef, eps = eps, allowed = allowed,
      adaptive = adaptiveTermination, scoredAcc = scoredAcc, hier = hier,
      hierMin = hierMin)
  }

  /** THE routed single-search walk, over whichever node space the index
    * holds: floats keep their top k (id, dist, vector) rows; codes keep
    * the k·`refine` coarse survivors (id, code-space dist, null) for an
    * exact rescore by the caller. `allowed` gates the beam (K3): traversal
    * crosses disallowed nodes, only allowed enter the result set, and the
    * < k survivor case keeps the loop probing (over-probe). The walk
    * collects before it returns, so its query broadcast is destroyed here
    * rather than left to the ContextCleaner. */
  private[graft] def walkRouted(spark: SparkSession, indexPath: String,
                                query: Array[Float], k: Int, ef: Int,
                                refine: Int = 8, eps: Double = 1e-4,
                                allowed: Option[Long => Boolean] = None,
                                adaptive: Boolean = false,
                                scoredAcc: LongAccumulator = null,
                                hier: Boolean = false, hierMin: Int = -1)
      : (Array[(Long, Double, Array[Float])], Int) =
    walkIn(spark, indexPath, index(spark, indexPath), query, k, ef, refine,
      eps, allowed, adaptive, scoredAcc, hier, hierMin)

  private def walkIn[V](spark: SparkSession, indexPath: String, ix: Index[V],
                        query: Array[Float], k: Int, ef: Int, refine: Int,
                        eps: Double, allowed: Option[Long => Boolean],
                        adaptive: Boolean, acc: LongAccumulator,
                        hier: Boolean, hierMin: Int)
      : (Array[(Long, Double, Array[Float])], Int) = {
    val space = ix.space
    val keep = if (space.bound) Knn.refineKeep(k, refine) else k
    val graph = loadGraph(spark, indexPath, space)
    val layers =
      if (hier) Some(loadLayers(spark, indexPath, graph.getNumPartitions))
      else None
    val f = allowed.getOrElse((_: Long) => true)
    val hmin = if (hierMin >= 0) hierMin else hierMinRows(spark)
    val qB = spark.sparkContext.broadcast(walkQuery(ix, query))
    try routedSchedule(ix, query, k, keep, eps, probes =>
      prunedWalk(graph, layers, probes.contains) { (git, lt) =>
        val rows = git.buffered
        rows.headOption.iterator.map { case (pid, _) =>
          (pid, walkPart(rows, lt, hmin, space, qB.value, keep, ef, f,
            adaptive, acc).toArray)
        }
      }.collect())
    finally qB.destroy()
  }

  /** Driver-side WALK-JOB counter across the routed schedules (r20
    * telemetry, VERDICT r19): each count is one job launch of sub-graph
    * walks — ~12 ms locally, ~100 ms of scheduling on a real cluster. A
    * routed search runs at most two ([[routedSchedule]]); BENCH_SF1's
    * `probe_rounds` blocks pin them per search. */
  val probeRounds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Driver-side count of sub-graphs the routed walk jobs actually walked.
    * It is at least the `probed` count a routed search returns: the second
    * job walks every sub-graph round 1's kth leaves standing, some of
    * which the schedule's later, tighter kth prunes — the walk work the
    * two-job schedule trades for fewer job launches. */
  val walkedSubgraphs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The centroid-ordered, triangle-bounded probe schedule of every routed
    * walk: probe sub-graphs in centroid-distance order with a doubling
    * batch (1, 2, 4, …), keep the best `keep` candidates, drop sub-graphs
    * whose lower bound exceeds the kth-best + the index's prune slack once
    * k hits are held (they can never re-enter — the kth best only
    * improves), stop when none remain. Floats bound under the index
    * metric with no slack; codes bound in L2 in the bound space with the
    * quantization-error slack: true-kth ≤ coarse-kth + slack, and every
    * node in a pruned sub-graph has true distance > that, so no true top-k
    * member is lost to routing.
    *
    * At most TWO walk jobs serve the schedule: round 1 walks the nearest
    * sub-graph, and round 2 walks, in one job, every sub-graph that round
    * 1's kth + slack cannot prune. The kth only improves, so every later
    * round probes a subset of those; its prune decisions replay over the
    * cached per-sub-graph results, so the rows and the `probed` count are
    * those of one job per round (a sub-graph's walk does not depend on
    * the round it runs in). The walk work is not: [[walkedSubgraphs]]
    * counts the sub-graphs the two jobs walked. `probeFn` walks a pid set
    * and returns each walked sub-graph's (pid, best (id, dist, vec) rows). */
  // k >= 1 at the schedule head (review r18-9): k = 0 reached
  // bestK.last on an empty Seq (and cands(k-1) = cands(-1) in the coarse
  // screen) — crash instead of an empty result; SQL LIMIT 0 never gets
  // here only because OptimizeLimitZero removes the plan first.
  private def routedSchedule(
      ix: Index[_], query: Array[Float], k: Int, keep: Int, eps: Double,
      probeFn: Set[Int] => Array[(Int, Array[(Long, Double, Array[Float])])])
      : (Array[(Long, Double, Array[Float])], Int) = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val rts = ix.rts
    val metric = if (ix.space.bound) Knn.L2 else ix.metric
    val boundQ = Quantize.bindQuerySide(ix.metric, query)
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
    val ipM2 = ix.ipMaxNorm.map(m => m * m).getOrElse(0.0)
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
    var batch = 1
    // pid → best rows of every sub-graph walked so far
    val walked = scala.collection.mutable.HashMap.empty[Int, Array[(Long, Double, Array[Float])]]
    var best: Seq[(Double, Long, Array[Float])] = Nil // (dist, id, vec) asc
    // Once k hits are held, sub-graphs whose lower bound exceeds the kth
    // best are dropped from the schedule permanently (ADVICE r8: the kth
    // best only improves, so they can never re-enter) — the next round
    // schedules only still-relevant sub-graphs, not the blind prefix.
    // <= keeps equal-bound sub-graphs probed (the tie rule).
    while ({
      if (best.size >= k) {
        val kth = best(k - 1)._1 + ix.slack
        remaining = remaining.filter(j => bound(j) <= kth)
      }
      remaining.nonEmpty
    }) {
      val probes = remaining.take(batch).sorted // pid order, as a job returns
      if (!probes.forall(walked.contains)) {
        val pids = if (walked.isEmpty) probes else remaining
        walked ++= pids.map(_ -> Array.empty[(Long, Double, Array[Float])]) // empty partitions
        walked ++= probeFn(pids.toSet)
        probeRounds.incrementAndGet()
        walkedSubgraphs.addAndGet(pids.size)
      }
      val rows = probes.flatMap(walked(_).map { case (id, d, vec) => (d, id, vec) })
      // sortBy (dist, id): the vector slot has no ordering
      best = (best ++ rows).sortBy(t => (t._1, t._2)).take(keep)
      probed += probes.size
      remaining = remaining.drop(batch)
      batch *= 2
    }
    (best.map { case (dist, id, vec) => (id, dist, vec) }.toArray, probed)
  }

  /** WALK TELEMETRY (r13 VERDICT #5 — turning the flat-NSW-vs-hierarchy
    * decision into a number): beam-walk every sub-graph for one query and
    * return per-sub-graph (pid, size, nodesExpanded, distancesScored), in
    * whichever node space the index holds (the quantized descent pays
    * int8 distance costs, so its crossover economics are measured too —
    * r17). "Expanded" counts dequeued nodes whose adjacency was scanned —
    * the hops a walk takes; the Hnsw scaladoc's claim that the layer
    * hierarchy "buys one hop" at our sub-graph sizes predicts expansion
    * grows ~logarithmically with sub-graph size. BenchScale measures this
    * at two sizes over the same 10× corpus and pins a sub-logarithmic
    * growth ceiling; super-logarithmic growth there is the signal to add
    * the entry-point layer. `hier = true` always descends (no
    * [[hierMinRows]] gate) and both counters INCLUDE the descent's hops
    * and scores — the honest comparison against the flat walk (BENCH_SF1
    * hier_telemetry reports both). */
  def walkStats(spark: SparkSession, indexPath: String,
                query: Array[Float], k: Int, ef: Int,
                hier: Boolean = false)
      : Array[(Int, Int, Long, Long)] =
    statsIn(spark, indexPath, index(spark, indexPath), query, k, ef, hier)

  /** [[walkStats]] — kept as the name the code-space telemetry callers use. */
  def walkStatsQuantized(spark: SparkSession, indexPath: String,
                         query: Array[Float], k: Int, ef: Int,
                         hier: Boolean = false)
      : Array[(Int, Int, Long, Long)] =
    walkStats(spark, indexPath, query, k, ef, hier)

  private def statsIn[V](spark: SparkSession, indexPath: String, ix: Index[V],
                         query: Array[Float], k: Int, ef: Int, hier: Boolean)
      : Array[(Int, Int, Long, Long)] = {
    val space = ix.space
    val graph = loadGraph(spark, indexPath, space)
    val layers =
      if (hier) Some(loadLayers(spark, indexPath, graph.getNumPartitions))
      else None
    val efEff = math.max(ef, k)
    val qB = spark.sparkContext.broadcast(walkQuery(ix, query))
    try prunedWalk(graph, layers, _ => true) { (git, lt) =>
      val rows = git.toArray
      if (rows.isEmpty) Iterator.empty[(Int, Int, Long, Long)]
      else {
        val (g, lyr) = hydrate(rows, lt, 0, space)
        val c = new Array[Long](2)
        val entry = descend(g, lyr, qB.value, c)
        g.searchBeam(qB.value, efEff, g.n, counters = c, entry = entry)
        Iterator.single((rows.head._1, g.n, c(0), c(1)))
      }
    }.collect()
    finally qB.destroy()
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
  // finished layer-0 table in the index's node space, levels drawn as a
  // deterministic hash of the id (rebuild-stable), and consumed by the
  // `hier = true` walks, which descend the layers to pick the beam entry.
  // Layer-0 storage, every existing gate, and the exact full-ef contract
  // are untouched (entry choice cannot change an exhaustive walk);
  // sub-graphs appended after the hierarchy build simply have no layer
  // rows and fall back to the flat entry — graceful, never wrong.

  /** Sidecar location of the layer hierarchy of a graph index (legacy
    * layout; a [[compactClustered]] generation holds a `layers/` subdir). */
  def layersPath(indexPath: String): String = baseDir(indexPath, "layers")

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

  /** Build the layer-hierarchy sidecar for a CLUSTERED graph index, in the
    * node space its graph holds (codes build and walk their upper layers
    * in the same [[CodeSpace]] kernel as the layer-0 beam — the
    * reference's hierarchy and quantizer compose the same way, so the
    * hierarchy adds no float residency): one pass over the graph table,
    * one task per sub-graph — each draws levels from the node ids, builds
    * an NSW over every level>=l subset with the SAME diversity heuristic +
    * chain edges as layer 0, and emits (pid, level, id, neighbors) rows
    * for levels >= 1. Safe to run on a live index: readers that loaded the
    * flat graph are unaffected, and hier walks pick the sidecar up on
    * their next load. Compactions rebuild the layers INSIDE the new
    * generation when the superseded one had them (r15 VERDICT #7 — a hier
    * registration survives OPTIMIZE without an operator step), and
    * [[appendSegment]] extends the sidecar to its new pids (r16 — the
    * hierarchy follows ingest; a crash mid-append leaves the new pids on
    * the flat-entry fallback, still exact). */
  def buildHierarchy(spark: SparkSession, indexPath: String,
                     p: Params = Params()): Unit = {
    buildLayersTo(spark, resolveDirs(spark, indexPath)._1,
      index(spark, indexPath).space, sidecarDir(spark, indexPath, "layers"), p)
    residentL.remove(indexPath).foreach(_.unpersist(false))
  }

  /** [[buildHierarchy]] against explicit dirs — shared by the live-index
    * build and [[rebuildClustered]]'s in-generation rebuild. An empty graph
    * gets an empty (but present) sidecar, so hier search over the empty
    * index stays consistent instead of failing the missing-sidecar
    * require. */
  private def buildLayersTo[V](spark: SparkSession, graphDir: String,
                               space: Space[V], layersDir: String,
                               p: Params): Unit = {
    // mL = 1/ln(m): the geometric layer-thinning math (and the <1/(m-1)
    // edge-overhead claim) assume m >= 2 — m = 1 draws level 31 for EVERY
    // node, 31 full duplicate NSWs per sub-graph (ADVICE r16-3)
    require(p.m >= 2, s"hierarchy build requires m >= 2 (got ${p.m})")
    val df = spark.read.parquet(graphDir)
    val maxPid = df.agg(max(col("pid"))).head
    val numParts = if (maxPid.isNullAt(0)) 0 else maxPid.getInt(0) + 1
    val rows =
      if (numParts == 0) spark.sparkContext.emptyRDD[Row]
      else layerRows(graphRows(df, space)
        .map { case (pid, (id, v, _)) => (pid, (id, v)) }
        .partitionBy(new PidPartitioner(numParts)), 0, space, p)
    graft.tables.Writer.write(spark.createDataFrame(rows, layerSchema),
      layersDir, sortBy = Seq("pid", "level", "id"),
      files = math.max(numParts, 1))
  }

  /** Layer rows of every sub-graph of `keyed` (one Spark partition per
    * sub-graph, pid = `offset` + partition index) — the per-partition
    * layer builder of [[buildLayersTo]] and the segment-append extension. */
  private def layerRows[V](keyed: RDD[(Int, (Long, V))], offset: Int,
                           space: Space[V], p: Params): RDD[Row] = {
    require(p.m >= 2, s"hierarchy build requires m >= 2 (got ${p.m})")
    keyed.mapPartitionsWithIndex { (ci, it) =>
      val nodes = it.map(_._2).toArray.sortBy(_._1)
      if (nodes.isEmpty) Iterator.empty
      else layerRowsFor(nodes, offset + ci, space, p.m, p.efC)
    }
  }

  /** Layer rows (levels >= 1) for ONE sub-graph's id-sorted nodes: draw
    * levels from the ids, build an NSW over every level>=l subset through
    * the space kernel. */
  private[vector] def layerRowsFor[V](nodes: Array[(Long, V)], pid: Int,
                                      space: Space[V], m: Int,
                                      efC: Int): Iterator[Row] = {
    val levels = nodes.map(n => nodeLevel(n._1, m))
    val maxL = levels.max
    (1 to maxL).iterator.flatMap { l =>
      val subset = nodes.indices.filter(levels(_) >= l)
      val sub = new SubGraph[V](
        subset.map(i => nodes(i)._1).toArray,
        subset.map(i => nodes(i)._2).toArray(space.tag), space)
      sub.build(m, efC)
      (0 until sub.n).iterator.map { i =>
        Row(pid, l, sub.ids(i), sub.neighborIds(i))
      }
    }
  }

  private[vector] type LayerRow = (Int, Long, Array[Long]) // (level, id, neighbors)
  /** Rehydrated layers, levels DESCENDING: (level, member layer-0 indices
    * ascending, adjacency as layer-0 indices). */
  private type Layers = Array[(Int, Array[Int], Array[Array[Int]])]
  private val residentL = TrieMap.empty[String, RDD[(Int, LayerRow)]]

  /** Resident layer rows, co-partitioned with [[loadGraph]]'s RDD
    * (`numParts` = the graph's partition count, so the two zip). Pids
    * without rows (an append that predates the hierarchy build, or a
    * crash before a segment's layer append) are empty partitions —
    * flat-entry fallback. */
  private def loadLayers(spark: SparkSession, indexPath: String,
                         numParts: Int): RDD[(Int, LayerRow)] =
    residentL.synchronized {
      residentL.getOrElseUpdate(indexPath, {
        import spark.implicits._
        val dir = sidecarDir(spark, indexPath, "layers")
        val p = new Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(p),
          s"no layer hierarchy at $dir — run Hnsw.buildHierarchy first " +
            "(compaction rebuilds layers only for indexes that had them)")
        val df = spark.read.parquet(dir)
          .select(col("pid"), col("level"), col("id"), col("neighbors"))
        val l = df.as[(Int, Int, Long, Array[Long])]
          .rdd.map(t => (t._1, (t._2, t._3, t._4)))
          .partitionBy(new PidPartitioner(numParts))
          .persist(MEMORY_AND_DISK)
        l.count()
        l
      })
    }

  /** Rehydrate one partition's layer rows against the layer-0 id→index
    * map. Ascending-id layer-0 arrays make id order == index order, so
    * members stay binary-searchable. A dangling id fails loudly (same
    * contract as [[rehydrate]]). */
  private def rehydrateLayers(rows: Array[LayerRow], idx: Long => Int): Layers =
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
    * (`walkStats(hier = true)`) always descends — it measures the descent. */
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
                                        minRows: Int = 0): Layers =
    if (g.n < minRows) Array.empty
    else rehydrateLayers(lt.map(_._2).toArray, { id =>
      val i = g.indexOf(id)
      if (i < 0) throw new IllegalStateException(
        s"layer row references id $id absent from its sub-graph — stale " +
          "hierarchy sidecar; rebuild with buildHierarchy")
      i
    })

  /** Walks that actually ran a hierarchy descent (nonempty layers) —
    * spec instrumentation only, meaningful in local mode where executors
    * share the JVM (a routed search reports its own work as the SQLMetrics
    * of [[graft.plans.GraphCandidatesExec]]). */
  val descents = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Schedule `body` over the probed partitions, zipping the layer RDD in
    * when the hier path is on (`body` receives null layer iterators on the
    * flat path) — the ONE definition of the graph×layers pruning
    * composition shared by the routed walks, the telemetry walk and the
    * in-budget batch join (review r15-5). */
  private def prunedWalk[R, T: ClassTag](
      graph: RDD[(Int, R)], layersOpt: Option[RDD[(Int, LayerRow)]],
      pred: Int => Boolean)(
      body: (Iterator[(Int, R)], Iterator[(Int, LayerRow)]) => Iterator[T])
      : RDD[T] =
    layersOpt match {
      case Some(layers) =>
        PartitionPruningRDD.create(
          graph.zipPartitions(layers, preservesPartitioning = true)(
            (a, b) => body(a, b)),
          pred)
      case None =>
        PartitionPruningRDD.create(graph, pred)
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
  private def zipWalk[R: ClassTag, T: ClassTag](
      graph: RDD[(Int, R)], layersOpt: Option[RDD[(Int, LayerRow)]],
      qAssign: RDD[(Int, (Long, Array[Float]))])(
      body: (Iterator[(Int, R)], Iterator[(Int, LayerRow)],
             Array[(Long, Array[Float])]) => Iterator[T])
      : RDD[T] =
    layersOpt match {
      case Some(layers) =>
        graph.zipPartitions(layers, qAssign, preservesPartitioning = true)(
          (g, l, q) => body(g, l, q.map(_._2).toArray))
      case None =>
        graph.zipPartitions(qAssign, preservesPartitioning = true)(
          (g, q) => body(g, null, q.map(_._2).toArray))
    }

  /** A query's `nprobe` nearest sub-graphs by centroid distance in the
    * bound space, each paired with (qid, the vector the walk consumes —
    * the bound-space one for codes, the raw one for floats). */
  private def probesOf(cents: Array[(Int, Array[Float])], metric: Knn.Metric,
                       nprobe: Int, carryBound: Boolean)
                      (qid: Long, qv: Array[Float])
      : Array[(Int, (Long, Array[Float]))] = {
    val bq = Quantize.bindQuerySide(metric, qv)
    val carry = if (carryBound) bq else qv
    cents.map(r => (Ivf.scalarDist(Knn.L2, bq, r._2), r._1))
      .sortBy(identity).take(nprobe)
      .map { case (_, pid) => (pid, (qid, carry)) }
  }

  /** Distributed pid assignment for the over-budget batch joins: each
    * query row maps to its [[probesOf]] sub-graphs and shuffles by pid to
    * co-locate with the resident graph's partitioning. Centroids broadcast
    * (≤ nlist rows); pids outside the graph's partition range (route rows
    * of an empty appended cluster) drop — they have no corpus vectors. */
  private def assignQueriesByPid(qRdd: RDD[(Long, Array[Float])],
                                 spark: SparkSession, metric: Knn.Metric,
                                 cents: Array[(Int, Array[Float])],
                                 nprobe: Int, numParts: Int,
                                 carryBound: Boolean)
      : RDD[(Int, (Long, Array[Float]))] = {
    val centsB = spark.sparkContext.broadcast(cents)
    qRdd
      .flatMap { case (qid, qv) =>
        probesOf(centsB.value, metric, nprobe, carryBound)(qid, qv)
          .filter(_._1 < numParts)
      }
      .partitionBy(new PidPartitioner(numParts))
  }

  /** Greedy hierarchy descent (hnswlib's upper-layer phase,
    * knn/knn.cpp:455-537: ef=1 from the top layer's entry point): at each
    * layer move to the best-improving neighbor until a local minimum, then
    * drop a layer — a node at level l is a member of every lower layer, so
    * the position carries down. Deterministic: ties move to the LOWER
    * index, and (dist, index) strictly decreases lexicographically, so the
    * walk terminates. Returns the layer-0 beam entry (node 0 — the flat
    * entry — for empty layers); `counters` receives (hops, distances
    * scored) like the beam's. */
  private[vector] def descend[V](g: SubGraph[V], layers: Layers,
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
            "buildHierarchy")
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

  /** Whether `indexPath` currently has a layer-hierarchy sidecar (at its
    * RESOLVED generation) — lets the automatic route fail loudly at
    * registration instead of at first query. */
  def hasHierarchy(spark: SparkSession, indexPath: String): Boolean = {
    val p = new Path(sidecarDir(spark, indexPath, "layers"))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** BATCH KNN JOIN over a clustered float graph (r13 VERDICT #4 — the
    * third leg of the batch-retrieval surface beside [[Knn.knnJoin]]
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
    * (review r15-4). A code graph needs its raw table for the rescore:
    * join it with [[knnJoinQuantized]]. */
  def knnJoinRouted(spark: SparkSession, indexPath: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    cIdCol: String, k: Int, ef: Int,
                    probes: Int = Int.MaxValue,
                    hier: Boolean = false,
                    hierMin: Int = -1): DataFrame = {
    floatsOnly(index(spark, indexPath), indexPath, "knnJoinRouted",
      "knnJoinQuantized")
    knnJoinGraph(spark, indexPath, null, null, null, queries, qIdCol, qVecCol,
      cIdCol, k, ef, probes = probes, hier = hier, hierMin = hierMin)
  }

  /** BATCH KNN JOIN over a code graph (r15): the [[knnJoinRouted]] shape
    * with the quantized serving contract — each (query, sub-graph) keeps
    * k·refine COARSE survivors, and the merged candidate set is
    * exact-rescored against the raw float table `raw` in one codegen join
    * (floats never enter the resident set; the query side of the rescore
    * is the collected batch, or the same persisted projection the walk
    * consumed over budget). `probes` >= sub-graph count at full ef keeps
    * every true neighbor inside some probed sub-graph's coarse k·refine —
    * the per-sub-graph union is a SUPERSET of the single-query walk's
    * globally-merged coarse set, so the gate shares the brute-force
    * oracle. Output contract matches the other joins. */
  def knnJoinQuantized(spark: SparkSession, indexPath: String,
                       raw: DataFrame, rawIdCol: String, rawVecCol: String,
                       queries: DataFrame, qIdCol: String, qVecCol: String,
                       cIdCol: String, k: Int, ef: Int,
                       refine: Int = 8,
                       probes: Int = Int.MaxValue,
                       hier: Boolean = false,
                       hierMin: Int = -1): DataFrame =
    knnJoinGraph(spark, indexPath, raw, rawIdCol, rawVecCol, queries, qIdCol,
      qVecCol, cIdCol, k, ef, refine, probes, hier, hierMin)

  /** THE graph batch join, over whichever node space the index holds;
    * `raw` (the float table, by name) is read only to rescore codes. */
  private[graft] def knnJoinGraph(spark: SparkSession, indexPath: String,
                                  raw: => DataFrame, rawIdCol: String,
                                  rawVecCol: String, queries: DataFrame,
                                  qIdCol: String, qVecCol: String,
                                  cIdCol: String, k: Int, ef: Int,
                                  refine: Int = 8,
                                  probes: Int = Int.MaxValue,
                                  hier: Boolean = false,
                                  hierMin: Int = -1): DataFrame =
    joinIn(spark, indexPath, index(spark, indexPath), raw, rawIdCol,
      rawVecCol, queries, qIdCol, qVecCol, cIdCol, k, ef, refine, probes,
      hier, hierMin)

  private def joinIn[V](spark: SparkSession, indexPath: String, ix: Index[V],
                        raw: => DataFrame, rawIdCol: String,
                        rawVecCol: String, queries: DataFrame,
                        qIdCol: String, qVecCol: String, cIdCol: String,
                        k: Int, ef: Int, refine: Int, probes: Int,
                        hier: Boolean, hierMin: Int): DataFrame = {
    import spark.implicits._
    require(ix.rts.nonEmpty, s"no route sidecar at ${routePath(indexPath)}")
    val (metric, space) = (ix.metric, ix.space)
    // codes keep k·refine coarse survivors per (query, sub-graph) and
    // rescore them exactly below; floats keep their top k
    val rescore = space.bound
    val keep = if (rescore) Knn.refineKeep(k, refine) else k
    val cents = ix.rts.map(r => (r._1, r._2))
    val nprobe = math.min(probes, cents.length)
    val graph = loadGraph(spark, indexPath, space)
    val layersOpt =
      if (hier) Some(loadLayers(spark, indexPath, graph.getNumPartitions))
      else None
    val efEff = math.max(ef, keep)
    val hmin = if (hierMin >= 0) hierMin else hierMinRows(spark)
    // the shared per-sub-graph walk: ONE rehydrated graph (and layer set)
    // serves every query assigned to this pid; queries arrive in the
    // walk's space (bound for codes)
    val walk = (git: Iterator[(Int, Node[V])],
                lt: Iterator[(Int, LayerRow)],
                assigned: Array[(Long, Array[Float])]) => {
      val rows = if (assigned.isEmpty) Array.empty[(Int, Node[V])] else git.toArray
      if (rows.isEmpty) Iterator.empty[(Long, Long, Double)]
      else {
        val (g, lyr) = hydrate(rows, lt, hmin, space)
        assigned.iterator.flatMap { case (qid, qv) =>
          val r = g.searchBeam(qv, efEff, g.n, entry = descend(g, lyr, qv, null))
          Iterator.range(0, math.min(keep, r.size))
            .map(j => (qid, g.ids(r.id(j).toInt), r.value(j)))
        }
      }
    }
    // (rescore query side, (qid, cid, dist) rows)
    val (qSide, perPart) =
      Knn.boundedQueryBatch(queries, qIdCol, qVecCol,
        Knn.maxQueryBatch(spark, cents.head._2.length)) match {
        case Some(qRows) =>
          // IN-BUDGET: driver-side pid assignment (nprobe nearest
          // centroids per query, distances in the bound space), broadcast
          // map, ZERO tasks for unprobed sub-graphs
          val byPid: Map[Int, Array[(Long, Array[Float])]] = qRows
            .flatMap { case (qid, qv) =>
              probesOf(cents, metric, nprobe, rescore)(qid, qv) }
            .groupBy(_._1).map { case (pid, xs) => pid -> xs.map(_._2) }
          val qB = spark.sparkContext.broadcast(byPid)
          // the rescore side IS the collected batch (never a second
          // evaluation of the queries plan — review r16-2: a
          // non-deterministic query source must feed the walk and the
          // rescore the same rows)
          (() => broadcast(qRows.toSeq.toDF("__qid", "__qvec")),
            prunedWalk(graph, layersOpt, byPid.contains) { (git, lt) =>
              val rows = git.toArray
              if (rows.isEmpty) Iterator.empty[(Long, Long, Double)]
              else walk(rows.iterator, lt,
                qB.value.getOrElse(rows.head._1,
                  Array.empty[(Long, Array[Float])]))
            })
        case None =>
          // OVER-BUDGET (r15 VERDICT #1): the query side stays a
          // distributed dataset end to end — assignment is a flatMap
          // against the ≤nlist broadcast centroids, the shuffle
          // co-locates each query slice with its sub-graph, and the walk
          // zips the two. Per-task memory is the pid's query slice
          // (|Q|·nprobe / nlist on average), never the whole batch. Codes
          // read the raw query back for the rescore through a shuffle
          // equi-join on __qid from the SAME persisted projection the walk
          // consumed (ADVICE r16).
          val qRdd =
            if (rescore) Knn.persistedQueryRdd(queries, qIdCol, qVecCol)
            else queries.select(col(qIdCol).cast("long"), col(qVecCol))
              .as[(Long, Array[Float])].rdd
          (() => spark.createDataset(qRdd).toDF("__qid", "__qvec"),
            zipWalk(graph, layersOpt,
              assignQueriesByPid(qRdd, spark, metric, cents, nprobe,
                graph.getNumPartitions, carryBound = rescore))(walk))
      }
    val scored = perPart.toDF("__qid", "__cid", "__dist")
    if (!rescore) TopK.topKPairs(scored, qIdCol, cIdCol, k)
    else {
      // multi-probe duplicates collapse before the rescore join
      val cands = scored.select("__qid", "__cid").distinct()
      val rawSel = raw.select(col(rawIdCol).cast("long").as("__cid"),
        col(rawVecCol).as("__cvec"))
      val dist = metric match {
        case Knn.Cosine =>
          lit(1.0) - distances.cosineSim(col("__qvec"), col("__cvec"))
        case Knn.IP =>
          lit(1.0) - distances.ipScore(col("__qvec"), col("__cvec"))
        case _ => distances.l2Dist(col("__qvec"), col("__cvec"))
      }
      TopK.topKPairs(cands.join(qSide(), "__qid").join(rawSel, "__cid")
        .select(col("__qid"), col("__cid"), dist.cast("double").as("__dist")),
        qIdCol, cIdCol, k)
    }
  }

  // ------------------------------------------------ code-space serving

  /** Sidecar holding a code graph's int8 model (its presence marks the
    * index's node space as codes). */
  def qmodelPath(indexPath: String): String = baseDir(indexPath, "qmodel")

  /** Sidecar holding the OBSERVED max reconstruction error of appended
    * segments (one row per append). The model's [[Quantize.QModel.l2ErrorBound]]
    * only bounds vectors inside the trained [min,max] box; appended
    * vectors may clamp, so the error-slack prune must widen to the
    * observed worst case or it could lose a true top-k member. Absent for
    * a fresh build (the model bound suffices). */
  def qerrPath(indexPath: String): String = baseDir(indexPath, "qerr")

  /** Routed top-k over a [[buildIndexClusteredQuantized]] index: the
    * routed schedule walks each probed sub-graph in CODE space, keeps
    * k·refine coarse survivors, and prunes with the error-slack triangle
    * bound; one exact rescore of the merged survivors against `raw` (the
    * float table) ends the query. Under COSINE/IP every routing/walk/prune
    * quantity lives in the bound space the index was built in, and only
    * the final rescore applies the exact metric kernel to the raw floats —
    * so the error-slack argument is the L2 one verbatim. Within probed
    * sub-graphs the k·refine coarse-candidate contract is the SAME as
    * [[Quantize.searchRescore]] (q_knn_quant); `q_knn_graph_quant` pins
    * the equality against the exact fullscan oracle at full ef. A float
    * graph at the path is served by its own exact-metric walk (k
    * survivors). Returns (top-k DataFrame with [[Knn.knn]]'s contract,
    * sub-graphs probed). */
  def searchQuantized(spark: SparkSession, indexPath: String,
                      raw: DataFrame, vecCol: String, idCol: String,
                      query: Array[Float], k: Int, ef: Int,
                      refine: Int = 8,
                      allowed: Option[Long => Boolean] = None,
                      hier: Boolean = false)
      : (DataFrame, Int) = {
    import spark.implicits._
    val (ids, probed) =
      searchQuantizedCoarse(spark, indexPath, query, k, ef, refine, allowed,
        hier)
    val survivors = raw.join(ids.toDF(idCol), Seq(idCol))
    (Knn.knn(survivors, vecCol, idCol, query, k, indexMetric(spark, indexPath)),
      probed)
  }

  /** The coarse pass of [[searchQuantized]]: the routed walk's merged
    * k·refine coarse survivor IDS (dist-asc) and the probe count. `hier =
    * true` walks each probed sub-graph from its code-space layer descent
    * entry; the coarse contract and the error-slack prune are unchanged. */
  def searchQuantizedCoarse(spark: SparkSession, indexPath: String,
                            query: Array[Float], k: Int, ef: Int,
                            refine: Int = 8,
                            allowed: Option[Long => Boolean] = None,
                            hier: Boolean = false,
                            hierMin: Int = -1)
      : (Seq[Long], Int) = {
    val (rows, probed) = walkRouted(spark, indexPath, query, k, ef, refine,
      allowed = allowed, hier = hier, hierMin = hierMin)
    (rows.map(_._1).toSeq, probed)
  }
}
