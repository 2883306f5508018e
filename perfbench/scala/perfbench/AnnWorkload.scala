package perfbench

import graft.engine.Graft
import graft.plans.AnnRouting
import graft.vector.Knn
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** `ann`: single-vector top-10 searches through `Knn.knn` (routed by
  * `AnnRoutingRule`) with and without a label filter, plus batch
  * `AnnRouting.knnJoin` calls, over a clustered corpus served by three
  * families, each registered on its own base-table copy. */
final class AnnWorkload(spark: SparkSession, in: String) extends Workload {
  private val reqs = Util.readJsonl(s"$in/requests.jsonl")
  private val queries: Map[Long, Array[Float]] = spark.read.parquet(s"$in/queries.parquet")
    .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private var meter: DiskMeter = _
  private var served = Map.empty[String, (String, String)] // family -> (base, index)

  def size: Int = reqs.length
  def kind(r: Int): String =
    if (routed(reqs(r))) s"${reqs(r).get("kind").asText}_${reqs(r).get("family").asText}"
    else s"${reqs(r).get("kind").asText}_${reqs(r).get("metric").asText}"

  private def metric(q: com.fasterxml.jackson.databind.JsonNode): Knn.Metric =
    if (!q.has("metric")) Families.metric(q.get("family").asText)
    else q.get("metric").asText match { case "cosine" => Knn.Cosine; case "ip" => Knn.IP; case _ => Knn.L2 }

  /** A request routes when its metric is the one its family serves. */
  private def routed(q: com.fasterxml.jackson.databind.JsonNode): Boolean =
    metric(q) == Families.metric(q.get("family").asText)

  def indexPaths: Seq[String] = served.values.map(_._2).toSeq
  def bytesWritten: Long = { meter.sweep(); meter.written }
  def userBytes: Long = Util.du(java.nio.file.Paths.get(s"$in/corpus.parquet"))

  def setup(root: String): Unit = {
    Trace.newSetup()
    meter = new DiskMeter(java.nio.file.Paths.get(root))
    served = Families.all.map { f =>
      // the graph families serve their own copy of the corpus; the coded
      // IVF-PQ table carries the vectors and is its own base
      val base = if (f == Families.IvfPq) s"$root/$f" else s"$in/corpus_$f.parquet"
      val corpus = spark.read.parquet(if (f == Families.IvfPq) s"$in/corpus.parquet" else base)
      f -> (base, Families.build(spark, f, corpus, base, s"$root/$f"))
    }.toMap
  }

  def warmup(n: Int): Unit = (0 until math.min(n, reqs.length)).foreach(r => record(r, execute(r)))

  def execute(r: Int): Any = {
    val q = reqs(r)
    val family = q.get("family").asText
    val m = metric(q)
    val base = served(family)._1
    q.get("kind").asText match {
      case "single" =>
        val df = Trace.span("plans.analyze") {
          val t = Trace.span("engine.table")(Graft.cachedRead(spark, base))
          val filtered = if (q.has("label")) t.filter(col("label") === q.get("label").asInt) else t
          Knn.knn(filtered, "embedding", "vec_id", queries(q.get("qid").asLong), 10, m)
        }
        Plans.collect(df, "vector.search")
      case "batch" =>
        val q0 = q.get("q0").asLong
        val qs = Trace.span("engine.table")(Graft.cachedRead(spark, s"$in/queries.parquet"))
          .filter(col("qid").between(q0, q0 + q.get("n").asLong - 1))
        val df = Trace.span("vector.join")(AnnRouting.knnJoin(spark, base, "embedding", "vec_id",
          qs, "qid", "vec", "corpus_id", 10, m))
        Plans.collect(df.select(col("qid"), col("corpus_id")), "vector.join")
    }
  }

  def record(r: Int, out: Any): Rec = {
    val q = reqs(r)
    val rows = out.asInstanceOf[Array[Row]]
    if (q.get("kind").asText == "single") {
      if (Trace.active && routed(q)) {
        val family = q.get("family").asText
        Trace.count("vector.nodes_expanded", Families.nodesExpanded(spark, family,
          served(family)._2, queries(q.get("qid").asLong)).toDouble)
      }
      Rec(1, rows.map(_.getLong(0)).mkString("[", ",", "]"), routable = routed(q))
    } else {
      val byQ = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      Rec(q.get("n").asLong, byQ.map { case (qid, rs) =>
        rs.map(_.getLong(1)).mkString(s"[$qid,[", ",", "]]") }.mkString("[", ",", "]"))
    }
  }
}
