package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.engine.Graft
import graft.index.SecondaryIndex
import graft.plans.IndexRouting
import graft.tables.Derived
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Runs a plan with each planning phase forced under its own span, then
  * collects under `exec`: `spark.exec` for plain plans, the layer's own
  * name where the executed plan is that layer's operator. The phases are lazy and cached on the QueryExecution that
  * `collect` reuses, so forcing them adds no work; analysis itself runs
  * while the DataFrame is built, which callers wrap in `plans.analyze`. */
object Plans {
  def collect(df: DataFrame, exec: String = "spark.exec"): Array[Row] = {
    val qe = df.queryExecution
    Trace.span("plans.optimize")(qe.optimizedPlan)
    Trace.span("plans.physical")(qe.executedPlan)
    Trace.span(exec)(df.collect())
  }
}

/** `lookup`: a seeded stream of secondary-index point, value-range and
  * rowid-window lookups, index-only counts and plain filters over an
  * orders/lineitem pair. Routable requests are plain DataFrame filters that
  * `IndexRoutingRule` rewrites; the rest call the index's public functions.
  */
final class LookupWorkload(spark: SparkSession, in: String) extends Workload {
  private val reqs = Util.readJsonl(s"$in/requests.jsonl")
  private var meter: DiskMeter = _
  private var idx = Map.empty[String, String]
  private val ordersPath = Graft.tablePath(in, "orders")
  private val lineitemPath = Graft.tablePath(in, "lineitem")

  def size: Int = reqs.length
  def kind(r: Int): String = reqs(r).get("kind").asText
  def indexPaths: Seq[String] = idx.values.toSeq
  def bytesWritten: Long = { meter.sweep(); meter.written }
  def userBytes: Long =
    Util.du(java.nio.file.Paths.get(ordersPath)) + Util.du(java.nio.file.Paths.get(lineitemPath))

  def setup(root: String): Unit = {
    Trace.newSetup()
    sys.props("graft.derived.root") = s"$root/derived"
    meter = new DiskMeter(java.nio.file.Paths.get(root))
    val derived = Seq("orders_ckey_idx", "orders_price_idx", "orders_prio_idx")
      .map(n => n -> Trace.timed("tables.derived_build_ms")(Derived.tablePath(spark, in, n)))
    idx = derived.toMap
    // o_orderpriority has five values, so a filter on it is never selective
    // enough to route; its index serves the explicit rowid-window lookups
    Trace.timed("plans.register_ms") {
      IndexRouting.register(spark, ordersPath, idx("orders_ckey_idx"), "o_custkey", "o_orderkey", force = true)
      IndexRouting.register(spark, ordersPath, idx("orders_price_idx"), "o_totalprice", "o_orderkey", force = true)
    }
  }

  def warmup(n: Int): Unit = (0 until math.min(n, reqs.length)).foreach(r => record(r, execute(r)))

  private def table(name: String): DataFrame =
    Trace.span("engine.table")(Graft.table(spark, in, name))

  private def orders(pred: DataFrame => org.apache.spark.sql.Column): Array[Row] =
    Plans.collect(Trace.span("plans.analyze") {
      val o = table("orders")
      o.filter(pred(o)).select(col("o_orderkey"), col("o_totalprice"))
    })

  private def lineitems(pred: org.apache.spark.sql.Column): Array[Row] =
    Plans.collect(Trace.span("plans.analyze") {
      table("lineitem").filter(pred)
        .select(col("l_rowid"), col("l_quantity"), col("l_extendedprice"))
    })

  private def vals(q: JsonNode): Seq[Long] = Util.longs(q.get("vs"))

  def execute(r: Int): Any = {
    val q = reqs(r)
    def lo = q.get("lo"); def hi = q.get("hi")
    q.get("kind").asText match {
      case "o_point" => orders(_ => col("o_custkey") === q.get("v").asLong)
      case "o_range" => orders(_ => col("o_custkey").between(lo.asLong, hi.asLong))
      case "o_frange" =>
        orders(_ => col("o_totalprice") >= lo.asDouble && col("o_totalprice") < hi.asDouble)
      case "o_in" => orders(_ => col("o_custkey").isin(vals(q): _*))
      case "o_scan" => orders(_ => col("o_orderdate").between(lo.asText, hi.asText))
      case "l_scan" =>
        lineitems(col("l_shipdate").between(lo.asText, hi.asText) && col("l_quantity") >= q.get("qmin").asDouble)
      case "rowid_window" =>
        Plans.collect(Trace.span("plans.analyze") {
          val keys = Trace.span("index.lookup")(SecondaryIndex.lookupKeys(spark,
            idx("orders_prio_idx"), Seq(q.get("prio").asText), keyRange = Some((lo.asLong, hi.asLong))))
          val o = table("orders")
          Trace.span("index.lookup")(SecondaryIndex.semiJoin(o, "o_orderkey", keys))
            .select(col("o_orderkey"), col("o_totalprice"))
        })
      case "count_point" =>
        Trace.span("index.count")(SecondaryIndex.calcCount(spark, idx("orders_ckey_idx"), vals(q)))
      case "count_range" =>
        Trace.span("index.count")(SecondaryIndex.calcCountRange(spark, idx("orders_price_idx"),
          Some(lo.asDouble), Some(hi.asDouble), hiInclusive = false))
      case "count_auto" =>
        Plans.collect(Trace.span("plans.analyze") {
          table("orders").filter(col("o_custkey").between(lo.asLong, hi.asLong))
            .agg(count(lit(1)).as("n"))
        }).head.getLong(0)
    }
  }

  def record(r: Int, out: Any): Rec = {
    val routable = reqs(r).path("routable").asBoolean(false)
    out match {
      case n: Long => Rec(1, s"[$n]", routable)
      case rows: Array[Row] => Rec(rows.length, Util.digest(rows.iterator.map(_.getLong(0))), routable)
    }
  }
}
