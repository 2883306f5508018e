package perfbench

import graft.plans.AnnRouting
import graft.vector.{Hnsw, Ivf, Knn}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The only place the benchmark calls family-specific vector builders and
  * registrations; requests go through `Knn.knn` and `AnnRouting.knnJoin`
  * only. Each family serves one metric. No family serves cosine: a cosine
  * build normalises every vector and costs 7-10 s more per set-up on four
  * cores, so cosine requests take the exact unrouted path instead.
  */
object Families {
  val Graph = "graph"
  val QGraph = "qgraph"
  val IvfPq = "ivfpq"
  val all: Seq[String] = Seq(Graph, QGraph, IvfPq)

  def metric(family: String): Knn.Metric = family match {
    case Graph => Knn.IP
    case QGraph => Knn.L2
    case IvfPq => Knn.L2
  }

  /** The float graph walks at full ef, its exact configuration, so its
    * recall must be 1. The quantized graph (k·8 coarse survivors) and IVF-PQ
    * (every list probed, k·32 coarse survivors) rescore a bounded candidate
    * set, so their recall is measured, not required. */
  val FullEf: Int = 1 << 20
  val Params: Hnsw.Params = Hnsw.Params(m = 8, efC = 64, partitions = 8)
  val NList = 8

  /** Cold build of `family` over `corpus` and its registration for
    * `basePath`. Returns the index path. For IVF-PQ the coded table is its
    * own base, so `basePath` is ignored and the index path is served. */
  def build(spark: SparkSession, family: String, corpus: DataFrame,
            basePath: String, indexPath: String): String = {
    Trace.timed(s"vector.build_ms.$family") {
      family match {
        case Graph =>
          Hnsw.buildIndexClustered(corpus, "embedding", "vec_id", indexPath, Params, metric(Graph))
        case QGraph =>
          Hnsw.buildIndexClusteredQuantized(corpus, "embedding", "vec_id", indexPath, Params, metric(QGraph))
        case IvfPq =>
          val m = Ivf.train(corpus, "embedding", nlist = NList)
          val pq = Ivf.buildIndexPq(corpus, "embedding", "vec_id", m, indexPath)
          ivfModels(indexPath) = (m, pq)
      }
    }
    Trace.timed("plans.register_ms")(register(spark, family, basePath, indexPath))
    indexPath
  }

  private val ivfModels = scala.collection.mutable.Map.empty[String, (Ivf.Model, graft.vector.Quantize.PqModel)]

  def register(spark: SparkSession, family: String, basePath: String, indexPath: String): Unit =
    family match {
      case Graph =>
        AnnRouting.registerGraph(spark, basePath, indexPath, "embedding", "vec_id", ef = FullEf)
      case QGraph =>
        AnnRouting.registerGraphQuantized(spark, basePath, indexPath, "embedding", "vec_id", ef = FullEf)
      case IvfPq =>
        val (m, pq) = ivfModels(indexPath)
        AnnRouting.registerIvfPq(spark, indexPath, indexPath, m, pq, "embedding", "vec_id",
          nprobe = m.nlist)
    }

  /** Per-sub-graph walk counters of one query (traced run only). */
  def nodesExpanded(spark: SparkSession, family: String, indexPath: String,
                    q: Array[Float]): Long = family match {
    case Graph => Hnsw.walkStats(spark, indexPath, q, 10, FullEf).map(_._3).sum
    case QGraph => Hnsw.walkStatsQuantized(spark, indexPath, q, 10, FullEf).map(_._3).sum
    case IvfPq => 0L
  }
}
