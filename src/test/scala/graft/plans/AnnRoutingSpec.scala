package graft.plans

import graft.SparkT
import graft.tables.Writer
import graft.vector.{Ivf, Knn}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** K4 automatic ANN routing: `ORDER BY dist LIMIT k` over a table with a
  * registered IVF index swaps its scan for the probe-filtered index table
  * (routed); selective filters, unregistered tables and metric mismatches
  * leave the exact fullscan plan untouched (bypassed). */
class AnnRoutingSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  SparkT.spark.experimental.extraOptimizations =
    Seq(HashCompanionRule, new AnnRoutingRule(SparkT.spark))

  private val dim = 8
  private lazy val (baseDir: String, idxDir: String,
      model: Ivf.Model, vectors: Seq[(Long, Array[Float], Int)]) = {
    val rnd = new scala.util.Random(5)
    val rows = for {
      c <- 0 until 6
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 2)
      i <- 0 until 50
    } yield ((c * 50 + i).toLong,
      center.map(x => x + 0.2f * rnd.nextGaussian().toFloat), c % 4)
    val tmp = Files.createTempDirectory("graft-annroute")
    val base = tmp.resolve("base").toString
    val idx = tmp.resolve("idx").toString
    val df = rows.toDF("vec_id", "embedding", "label")
    Writer.write(df, base, sortBy = Seq("vec_id"))
    val m = Ivf.train(SparkT.spark.read.parquet(base), "embedding", nlist = 6)
    Ivf.buildIndex(SparkT.spark.read.parquet(base), "embedding", m, idx)
    AnnRouting.register(SparkT.spark, base, idx, m,
      vecCol = "embedding", nprobe = m.nlist)
    (base, idx, m, rows)
  }

  private def query: Array[Float] = vectors.head._2

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  private def exactTop10: Seq[Long] =
    vectors.map { case (id, v, _) => (l2(v, query), id) }
      .sorted.take(10).map(_._2)

  test("unfiltered exact top-k over a registered table routes to the index scan") {
    val df = Knn.knn(SparkT.spark.read.parquet(baseDir),
      "embedding", "vec_id", query, 10)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("idx")), s"not routed: $paths")
    assert(!paths.exists(_.contains("base")), s"base still scanned: $paths")
    // the probe filter reached the index scan
    assert(df.queryExecution.optimizedPlan.toString.contains("ivf_cluster"))
    // nprobe = nlist: identical rows to the exact fullscan
    assert(df.select("vec_id").as[Long].collect().toSeq === exactTop10)
  }

  test("selective attribute filter bypasses: few survivors → exact fullscan") {
    // sel*n is tiny vs costFactor*k*ef at this scale, so shouldUseFullscan
    // says brute force — the plan must keep scanning the BASE table.
    val df = Knn.knn(SparkT.spark.read.parquet(baseDir).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("base")), s"filtered knn was routed: $paths")
    assert(!paths.exists(_.contains("idx")))
  }

  test("unregistered tables and mismatched metrics never route") {
    // same data written elsewhere — no registry entry
    val other = Files.createTempDirectory("graft-annroute2").resolve("t").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), other,
      sortBy = Seq("vec_id"))
    val un = Knn.knn(SparkT.spark.read.parquet(other),
      "embedding", "vec_id", query, 10)
    assert(!scanPaths(un).exists(_.contains("idx")))
    // registered table, but cosine query vs an L2-metric index
    val cos = Knn.knn(SparkT.spark.read.parquet(baseDir),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    assert(!scanPaths(cos).exists(_.contains("idx")))
  }

  test("filtered query that routes keeps the filter on the index scan (exact rows)") {
    // ef=1 shrinks the fullscan threshold (2*k*ef = 20 survivors) below the
    // estimated ~75, so the filtered query ROUTES — and must apply the
    // attribute filter to the index table (which carries all base columns).
    val tmp = Files.createTempDirectory("graft-annroute3")
    val base2 = tmp.resolve("base2").toString
    val idx2 = tmp.resolve("idx2").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), base2,
      sortBy = Seq("vec_id"))
    val m2 = Ivf.train(SparkT.spark.read.parquet(base2), "embedding", nlist = 6)
    Ivf.buildIndex(SparkT.spark.read.parquet(base2), "embedding", m2, idx2)
    AnnRouting.register(SparkT.spark, base2, idx2, m2,
      vecCol = "embedding", nprobe = m2.nlist, ef = 1)

    val df = Knn.knn(SparkT.spark.read.parquet(base2).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("idx2")), s"not routed: $paths")
    val want = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(df.select("vec_id").as[Long].collect().toSeq === want)
  }

  test("cosine-metric index routes cosine queries (1 - similarity sort key)") {
    val tmp = Files.createTempDirectory("graft-annroute4")
    val baseC = tmp.resolve("basec").toString
    val idxC = tmp.resolve("idxc").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), baseC,
      sortBy = Seq("vec_id"))
    val mc = Ivf.train(SparkT.spark.read.parquet(baseC), "embedding",
      nlist = 6, metric = Knn.Cosine)
    Ivf.buildIndex(SparkT.spark.read.parquet(baseC), "embedding", mc, idxC)
    AnnRouting.register(SparkT.spark, baseC, idxC, mc,
      vecCol = "embedding", nprobe = mc.nlist)
    val df = Knn.knn(SparkT.spark.read.parquet(baseC),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("idxc")), s"cosine not routed: $paths")
    // but an L2 query over the cosine-metric index must NOT route
    val l2q = Knn.knn(SparkT.spark.read.parquet(baseC),
      "embedding", "vec_id", query, 10, Knn.L2)
    assert(!scanPaths(l2q).exists(_.contains("idxc")))
  }

  test("graph family: a registered clustered graph serves the plain top-k (r10)") {
    val tmp = Files.createTempDirectory("graft-annroute-graph")
    val baseG = tmp.resolve("baseg").toString
    val idxG = tmp.resolve("idxg").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), baseG,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(baseG), "embedding", "vec_id", idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id")
    def graphLeaves(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case g: GraphCandidates => g
    }
    // family selection: the scan becomes the GraphCandidates leaf — no
    // parquet relation remains anywhere in the plan
    val df = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(df).nonEmpty, df.queryExecution.optimizedPlan.toString)
    assert(scanPaths(df).isEmpty)
    // full-ef routed walk is exact: identical rows to the fullscan,
    // through the original Sort/Limit recomputing distances
    assert(df.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // downstream projections survive the swap
    val proj = Knn.knn(SparkT.spark.read.parquet(baseG),
        "embedding", "vec_id", query, 10)
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    assert(graphLeaves(proj).nonEmpty)
    assert(proj.count() === 10)
    // metric mismatch: a cosine query over the L2-built graph stays exact
    val cos = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    assert(graphLeaves(cos).isEmpty)
    // filtered (r10): the automatic route CONSUMES the attribute filter
    // into the walk's allowed-id callback (ref KNNFilter_i) — the leaf
    // carries the condition, no parquet relation remains under the sort,
    // and the result is the exact filtered top-k
    val filt = Knn.knn(
      SparkT.spark.read.parquet(baseG).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(filt).exists(_.filterSql.isDefined),
      filt.queryExecution.optimizedPlan.toString)
    assert(scanPaths(filt).isEmpty)
    val wantFilt = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(filt.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // qualified attributes (an aliased plan) still route: the consumed
    // condition re-renders UNQUALIFIED for the id job — a qualified
    // rendering would not resolve against the fresh base read and the
    // query would abort instead of staying exact (review r10-2)
    val aliased = Knn.knn(
      SparkT.spark.read.parquet(baseG).alias("t").filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(aliased).exists(_.filterSql.isDefined),
      aliased.queryExecution.optimizedPlan.toString)
    assert(aliased.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // the maxFilterIds budget gates the filtered route (the broadcast-set
    // bound): a zero budget refuses — exact fullscan, unfiltered still routes
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id", maxFilterIds = 0L)
    val over = Knn.knn(
      SparkT.spark.read.parquet(baseG).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(over).isEmpty)
    assert(scanPaths(over).exists(_.contains("baseg")))
    assert(graphLeaves(Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)).nonEmpty)
    // a non-range filter shape is un-estimable → conservative fullscan
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id")
    val odd = Knn.knn(
      SparkT.spark.read.parquet(baseG).filter($"label" % 2 === 0),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(odd).isEmpty)
    assert(scanPaths(odd).exists(_.contains("baseg")))
    // a BARE orderBy().limit() delivers every base column to the user —
    // null-filling label would be a visible wrong result, so the route
    // refuses (review r10); the exact fullscan keeps real label values
    val bare = SparkT.spark.read.parquet(baseG)
      .orderBy(Knn.distCol(Knn.L2, col("embedding"), typedLit(query)).asc)
      .limit(10)
    assert(graphLeaves(bare).isEmpty,
      bare.queryExecution.optimizedPlan.toString)
    assert(bare.collect().forall(r => !r.isNullAt(r.fieldIndex("label"))))
    // a registration whose idCol is not a real column refuses the route
    // instead of emitting null ids (review r10)
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "nope")
    val wrongId = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(wrongId).isEmpty)
    // family replacement: a later IVF registration for the same base
    // takes over (latest wins, like the reference's per-column index slot)
    val idxI = tmp.resolve("idxi").toString
    val mi = Ivf.train(SparkT.spark.read.parquet(baseG), "embedding", nlist = 6)
    Ivf.buildIndex(SparkT.spark.read.parquet(baseG), "embedding", mi, idxI)
    AnnRouting.register(SparkT.spark, baseG, idxI, mi,
      vecCol = "embedding", nprobe = mi.nlist)
    val df2 = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(df2).isEmpty)
    assert(scanPaths(df2).exists(_.contains("idxi")))
    assert(df2.select("vec_id").as[Long].collect().toSeq === exactTop10)
  }

  test("string-filtered graph route estimates through a registered secondary index (r10-2)") {
    // A string filter has no numeric footer estimate; with a secondary
    // index registered on the column, the SAME registration stats that
    // gate index routing (ndv points / histogram) judge the ANN bypass —
    // one estimate source for both routers, as in the reference host.
    // (A filter selective enough for IndexRouting's own gate rewrites to
    // the postings semi-join FIRST — IndexRoutingRule is injected before
    // the ANN rule — and ANN routing stands down: ShouldUseFullscan's
    // preference for brute-forcing few survivors, pinned below on cat2;
    // at ndv=4 `cat`'s 0.25 estimate bypasses the 0.1 filter gate but
    // satisfies the maxFilterIds budget, so the graph route fires.)
    val tmp = Files.createTempDirectory("graft-annroute-strfilt")
    val baseS = tmp.resolve("bases").toString
    val idxG = tmp.resolve("idxg").toString
    val idxS = tmp.resolve("idxs").toString
    val idxS2 = tmp.resolve("idxs2").toString
    val rows2 = vectors.map { case (id, v, lab) =>
      (id, v, "c" + lab, "k%03d".format(id % 100)) }
    Writer.write(rows2.toDF("vec_id", "embedding", "cat", "cat2"), baseS,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(baseS), "embedding", "vec_id", idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    AnnRouting.registerGraph(SparkT.spark, baseS, idxG,
      vecCol = "embedding", idCol = "vec_id")
    def graphLeaves(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case g: GraphCandidates => g
    }
    // no index on cat: the string shape is un-estimable → exact fullscan
    val un = Knn.knn(SparkT.spark.read.parquet(baseS).filter($"cat" === "c2"),
      "embedding", "vec_id", query, 10)
    assert(graphLeaves(un).isEmpty,
      un.queryExecution.optimizedPlan.toString)
    graft.index.SecondaryIndex.build(
      SparkT.spark.read.parquet(baseS), "cat", "vec_id", idxS)
    IndexRouting.register(SparkT.spark, baseS, idxS, "cat", "vec_id")
    try {
      val df = Knn.knn(
        SparkT.spark.read.parquet(baseS).filter($"cat" === "c2"),
        "embedding", "vec_id", query, 10)
      assert(graphLeaves(df).exists(_.filterSql.isDefined),
        df.queryExecution.optimizedPlan.toString)
      val want = vectors.filter(_._3 == 2)
        .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
      assert(df.select("vec_id").as[Long].collect().toSeq === want)
      // IN lists ride the same path
      val in = Knn.knn(
        SparkT.spark.read.parquet(baseS).filter($"cat".isin("c2", "c9")),
        "embedding", "vec_id", query, 10)
      assert(graphLeaves(in).exists(_.filterSql.isDefined),
        in.queryExecution.optimizedPlan.toString)
      assert(in.select("vec_id").as[Long].collect().toSeq === want)
      // a MORE selective string column (ndv 100, est 0.01 <= the filter
      // gate): the postings semi-join rewrites FIRST and ANN stands down —
      // few survivors brute-forced under the untouched Sort (review
      // r10-3: this required IndexRoutingRule injected before the ANN
      // rule; the reverse order consumed the filter into the walk)
      graft.index.SecondaryIndex.build(
        SparkT.spark.read.parquet(baseS), "cat2", "vec_id", idxS2)
      IndexRouting.register(SparkT.spark, baseS, idxS2, "cat2", "vec_id")
      val sel = Knn.knn(
        SparkT.spark.read.parquet(baseS).filter($"cat2" === "k010"),
        "embedding", "vec_id", query, 10)
      assert(graphLeaves(sel).isEmpty,
        sel.queryExecution.optimizedPlan.toString)
      assert(sel.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.nonEmpty, sel.queryExecution.optimizedPlan.toString)
      val wantSel = vectors.filter(_._1 % 100 == 10)
        .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
      assert(sel.select("vec_id").as[Long].collect().toSeq === wantSel)
    } finally {
      IndexRouting.unregister(SparkT.spark, baseS)
      AnnRouting.unregister(SparkT.spark, baseS)
    }
  }

  test("skew past the broadcast budget falls back to the exact distributed top-k (r10-3)") {
    // The plan-time gate trusts a uniform ndv estimate (~2 survivors for
    // sk='hot' at ndv 151), but the hot value actually holds 150 rows —
    // 3x the registered 50-id budget. The leaf's execution-time count
    // catches it and takes the exact distributed top-k instead of a huge
    // driver collect; rows stay identical to the brute-force answer. The
    // base is sk-clustered so IndexRouting's filter route stands down and
    // the ANN rule genuinely owns the filter.
    val tmp = Files.createTempDirectory("graft-annroute-skew")
    val baseK = tmp.resolve("basek").toString
    val idxG = tmp.resolve("idxg").toString
    val idxS = tmp.resolve("idxs").toString
    val rows2 = vectors.map { case (id, v, _) =>
      (id, v, if (id < 150) "hot" else s"u$id") }
    Writer.write(rows2.toDF("vec_id", "embedding", "sk"), baseK,
      sortBy = Seq("sk"), files = 4)
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(baseK), "embedding", "vec_id", idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    graft.index.SecondaryIndex.build(
      SparkT.spark.read.parquet(baseK), "sk", "vec_id", idxS)
    IndexRouting.register(SparkT.spark, baseK, idxS, "sk", "vec_id")
    AnnRouting.registerGraph(SparkT.spark, baseK, idxG,
      vecCol = "embedding", idCol = "vec_id", maxFilterIds = 50L)
    try {
      val df = Knn.knn(
        SparkT.spark.read.parquet(baseK).filter($"sk" === "hot"),
        "embedding", "vec_id", query, 10)
      assert(df.queryExecution.optimizedPlan.collect {
        case g: GraphCandidates => g
      }.exists(_.maxIds == 50L), df.queryExecution.optimizedPlan.toString)
      val before = GraphCandidates.fallbackCount.get()
      val got = df.select("vec_id").as[Long].collect().toSeq
      assert(GraphCandidates.fallbackCount.get() === before + 1,
        "expected the over-budget fallback to run exactly once")
      val want = vectors.filter(_._1 < 150)
        .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
      assert(got === want)
    } finally {
      IndexRouting.unregister(SparkT.spark, baseK)
      AnnRouting.unregister(SparkT.spark, baseK)
    }
  }

  test("quant family: a registered quantized table routes through the coarse screen (r10)") {
    val tmp = Files.createTempDirectory("graft-annroute-quant")
    val qt = tmp.resolve("qt").toString
    val m = graft.vector.Quantize.train(
      vectors.toDF("vec_id", "embedding", "label"), "embedding")
    Writer.write(graft.vector.Quantize.quantizeTable(
      vectors.toDF("vec_id", "embedding", "label"), "embedding", "qvec", m),
      qt, sortBy = Seq("vec_id"))
    AnnRouting.registerQuant(SparkT.spark, qt, qt, m,
      vecCol = "embedding", idCol = "vec_id")
    val df = Knn.knn(SparkT.spark.read.parquet(qt),
      "embedding", "vec_id", query, 10)
    // routed: the plan holds the coarse-screen self-join (two scans of the
    // quant table + a join), not the single-scan fullscan
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, df.queryExecution.optimizedPlan.toString)
    // exact: refine=8 keeps the true top-10 inside the coarse set here
    assert(df.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // filtered (r10): the filter rides INSIDE the coarse screen (the quant
    // table carries the attribute columns) — the plan still holds the
    // screen join, and the result is the exact filtered top-k
    val filt = Knn.knn(SparkT.spark.read.parquet(qt).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(filt.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty, filt.queryExecution.optimizedPlan.toString)
    val wantFilt = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(filt.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // a non-range filter shape refuses (it cannot ride the screen) —
    // single-scan exact fullscan
    val odd = Knn.knn(SparkT.spark.read.parquet(qt).filter($"label" % 2 === 0),
      "embedding", "vec_id", query, 10)
    assert(odd.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty)
    AnnRouting.unregister(SparkT.spark, qt)
  }

  test("4-bit and binary quant families route; a segment append drops the entry until re-registration (r11)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val tmp = Files.createTempDirectory("graft-annroute-qb")
    val df = vectors.toDF("vec_id", "embedding", "label")
    def joins(d: DataFrame) =
      d.queryExecution.optimizedPlan.collect { case j: Join => j }
    // refine sized past the fixture's row count: the screens pass every row
    // through, so exactness is structural here — screen ECONOMY at honest
    // refine is QuantizeSpec's subject
    val q4 = tmp.resolve("q4").toString
    val m4 = graft.vector.Quantize.train4(df, "embedding")
    Writer.write(graft.vector.Quantize.quantize4Table(
      df, "embedding", "q4vec", m4), q4, sortBy = Seq("vec_id"))
    AnnRouting.registerQuant4(SparkT.spark, q4, q4, m4,
      vecCol = "embedding", idCol = "vec_id", refine = 40)
    val r4 = Knn.knn(SparkT.spark.read.parquet(q4),
      "embedding", "vec_id", query, 10)
    assert(joins(r4).nonEmpty, r4.queryExecution.optimizedPlan.toString)
    assert(r4.select("vec_id").as[Long].collect().toSeq === exactTop10)
    val qb = tmp.resolve("qb").toString
    val mb = graft.vector.Quantize.trainBinary(df, "embedding")
    Writer.write(graft.vector.Quantize.binarizeTable(
      df, "embedding", "bvec", mb), qb, sortBy = Seq("vec_id"))
    AnnRouting.registerBinary(SparkT.spark, qb, qb, mb,
      vecCol = "embedding", idCol = "vec_id", refine = 40)
    val rb = Knn.knn(SparkT.spark.read.parquet(qb),
      "embedding", "vec_id", query, 10)
    assert(joins(rb).nonEmpty, rb.queryExecution.optimizedPlan.toString)
    assert(rb.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // RESIDUAL-factor binary (r13): the rCol registration must actually
    // FIRE the route (splice join present — the gate's fullscan oracle
    // would stay green even if routing silently stood down) and stay
    // exact through the corrected screen + rescore
    val qbr = tmp.resolve("qbr").toString
    Writer.write(graft.vector.Quantize.binarizeTableResidual(
      df, "embedding", "bvec", "bres", mb), qbr, sortBy = Seq("vec_id"))
    AnnRouting.registerBinary(SparkT.spark, qbr, qbr, mb,
      vecCol = "embedding", idCol = "vec_id", refine = 40,
      rCol = Some("bres"))
    val rbr = Knn.knn(SparkT.spark.read.parquet(qbr),
      "embedding", "vec_id", query, 10)
    assert(joins(rbr).nonEmpty, rbr.queryExecution.optimizedPlan.toString)
    assert(rbr.select("vec_id").as[Long].collect().toSeq === exactTop10)
    AnnRouting.unregister(SparkT.spark, qbr)
    // I9 epoch invalidation: an append mutates the file listing the cached
    // relation froze, so the entry drops (exact fullscan) until the caller
    // re-registers — then the route serves the appended corpus too
    val extra = Seq((9001L, Array.fill(dim)(99f), 0))
      .toDF("vec_id", "embedding", "label")
    graft.vector.Quantize.appendSegment4(extra, "embedding", "q4vec", q4, m4)
    val dropped = Knn.knn(SparkT.spark.read.parquet(q4),
      "embedding", "vec_id", query, 10)
    assert(joins(dropped).isEmpty, "stale entry must drop after append")
    AnnRouting.registerQuant4(SparkT.spark, q4, q4, m4,
      vecCol = "embedding", idCol = "vec_id", refine = 41)
    val rerouted = Knn.knn(SparkT.spark.read.parquet(q4),
      "embedding", "vec_id", query, 10)
    assert(joins(rerouted).nonEmpty)
    assert(rerouted.select("vec_id").as[Long].collect().toSeq === exactTop10)
    AnnRouting.unregister(SparkT.spark, q4)
    AnnRouting.unregister(SparkT.spark, qb)
  }

  test("PQ family routes through the ADC screen; append drops the entry until re-registration (r14 #5)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val tmp = Files.createTempDirectory("graft-annroute-pq")
    val df = vectors.toDF("vec_id", "embedding", "label")
    def joins(d: DataFrame) =
      d.queryExecution.optimizedPlan.collect { case j: Join => j }
    val pq = tmp.resolve("pq").toString
    val mpq = graft.vector.Quantize.trainPq(df, "embedding", "vec_id",
      m = 4, k = 16)
    Writer.write(graft.vector.Quantize.quantizePqTable(
      df, "embedding", "pqvec", mpq), pq, sortBy = Seq("vec_id"))
    // refine sized past the fixture's row count: exactness is structural
    // (the screen passes every row); screen economy at honest refine is
    // QuantizeSpec's subject — same convention as the 4-bit/binary pins
    AnnRouting.registerPq(SparkT.spark, pq, pq, mpq,
      vecCol = "embedding", idCol = "vec_id", refine = 40)
    val rp = Knn.knn(SparkT.spark.read.parquet(pq),
      "embedding", "vec_id", query, 10)
    assert(joins(rp).nonEmpty, rp.queryExecution.optimizedPlan.toString)
    assert(rp.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // the filter rides inside the ADC screen
    val filt = Knn.knn(SparkT.spark.read.parquet(pq).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(joins(filt).nonEmpty, filt.queryExecution.optimizedPlan.toString)
    val wantFilt = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(filt.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // mutation epoch: a PQ segment append drops the entry (exact fullscan)
    // until re-registration serves the appended corpus
    val extra = Seq((9002L, Array.fill(dim)(98f), 0))
      .toDF("vec_id", "embedding", "label")
    graft.vector.Quantize.appendSegmentPq(extra, "embedding", "pqvec", pq, mpq)
    val dropped = Knn.knn(SparkT.spark.read.parquet(pq),
      "embedding", "vec_id", query, 10)
    assert(joins(dropped).isEmpty, "stale PQ entry must drop after append")
    AnnRouting.registerPq(SparkT.spark, pq, pq, mpq,
      vecCol = "embedding", idCol = "vec_id", refine = 41)
    val rerouted = Knn.knn(SparkT.spark.read.parquet(pq),
      "embedding", "vec_id", query, 10)
    assert(joins(rerouted).nonEmpty)
    assert(rerouted.select("vec_id").as[Long].collect().toSeq === exactTop10)
    AnnRouting.unregister(SparkT.spark, pq)
  }

  test("routed graph search plans a TakeOrderedAndProject, no Exchange: probe rounds + 1 jobs") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    object Aqe extends AdaptiveSparkPlanHelper
    val tmp = Files.createTempDirectory("graft-annroute-graphplan")
    val baseG = tmp.resolve("baseg").toString
    val idxG = tmp.resolve("idxg").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), baseG,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(baseG), "embedding", "vec_id", idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id")
    def search(q: Array[Float]) =
      Knn.knn(SparkT.spark.read.parquet(baseG), "embedding", "vec_id", q, 10)
    search(vectors(100)._2).collect() // loads the resident graph
    val df = search(query)
    val rounds0 = graft.vector.Hnsw.probeRounds.get()
    val (rows, work) = graft.WorkCount(SparkT.spark)(df.collect())
    val rounds = graft.vector.Hnsw.probeRounds.get() - rounds0
    assert(rows.map(_.getLong(0)).toSeq === exactTop10)
    val plan = df.queryExecution.executedPlan
    assert(Aqe.collect(plan) { case t: TakeOrderedAndProjectExec => t }
      .nonEmpty, plan.toString)
    assert(Aqe.collect(plan) { case e: Exchange => e }.isEmpty,
      plan.toString)
    // one job per probe round, then the collect of the k candidates
    assert(rounds >= 1 && work.jobs === rounds + 1,
      s"$work over $rounds probe rounds")
    AnnRouting.unregister(SparkT.spark, baseG)
  }

  test("IVF probe lists plan sorted: a search with a different query compiles no new class") {
    val tmp = Files.createTempDirectory("graft-annroute-ivfcompile")
    val df = vectors.toDF("vec_id", "embedding", "label")
    val idx = tmp.resolve("ivfpq").toString
    val m = graft.vector.Ivf.train(df, "embedding", nlist = 4)
    val pq = graft.vector.Ivf.buildIndexPq(df, "embedding", "vec_id", m, idx,
      subM = 4, codeK = 16)
    AnnRouting.registerIvfPq(SparkT.spark, idx, idx, m, pq,
      vecCol = "embedding", idCol = "vec_id", nprobe = m.nlist,
      refine = 40)
    def search(q: Array[Float]) =
      Knn.knn(SparkT.spark.read.parquet(idx), "embedding", "vec_id", q, 10)
        .collect()
    val (a, b) = (vectors.head._2, vectors(100)._2)
    // the two queries visit the same lists in different orders
    assert(m.probeOrder(a) !== m.probeOrder(b))
    search(a)
    val (_, work) = graft.WorkCount(SparkT.spark)(search(b))
    assert(work.compiles === 0L, work.toString)
    // so do the routed IVF family's probe filter ...
    def routedIvf(q: Array[Float]) =
      Knn.knn(SparkT.spark.read.parquet(baseDir), "embedding", "vec_id", q, 10)
        .collect()
    assert(model.probeOrder(a) !== model.probeOrder(b))
    routedIvf(a)
    val (_, routedWork) = graft.WorkCount(SparkT.spark)(routedIvf(b))
    assert(routedWork.compiles === 0L, routedWork.toString)
    // ... and the plain IVF search
    val ivfIdx = tmp.resolve("ivf").toString
    graft.vector.Ivf.buildIndex(df, "embedding", m, ivfIdx)
    def ivf(q: Array[Float]) = graft.vector.Ivf.search(SparkT.spark, ivfIdx,
      m, "vec_id", "embedding", q, 10, nprobe = 3).collect()
    val p3 = m.probeSet(a, 3)
    val c = vectors.map(_._2).find(v =>
      m.probeSet(v, 3) == p3 && m.probeOrder(v).take(3) != m.probeOrder(a).take(3))
    assert(c.isDefined, "fixture has no query probing the same 3 lists in another order")
    ivf(a)
    val (_, ivfWork) = graft.WorkCount(SparkT.spark)(ivf(c.get))
    assert(ivfWork.compiles === 0L, ivfWork.toString)
    AnnRouting.unregister(SparkT.spark, idx)
  }

  test("IVF-ADC family routes through the probe-pruned per-list screen; batch joins dispatch too (r16)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val tmp = Files.createTempDirectory("graft-annroute-ivfpq")
    val df = vectors.toDF("vec_id", "embedding", "label")
    def joins(d: DataFrame) =
      d.queryExecution.optimizedPlan.collect { case j: Join => j }
    val idx = tmp.resolve("ivfpq").toString
    val m = graft.vector.Ivf.train(df, "embedding", nlist = 4)
    val pq = graft.vector.Ivf.buildIndexPq(df, "embedding", "vec_id", m, idx,
      subM = 4, codeK = 16)
    // refine past the fixture's row count: routing exactness is
    // structural here; honest-refine economy is the gate's subject
    AnnRouting.registerIvfPq(SparkT.spark, idx, idx, m, pq,
      vecCol = "embedding", idCol = "vec_id", nprobe = m.nlist,
      refine = 40)
    val rp = Knn.knn(SparkT.spark.read.parquet(idx),
      "embedding", "vec_id", query, 10)
    assert(joins(rp).nonEmpty, rp.queryExecution.optimizedPlan.toString)
    assert(rp.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // the consumed filter rides inside the probe-pruned screen
    val filt = Knn.knn(SparkT.spark.read.parquet(idx).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(joins(filt).nonEmpty, filt.queryExecution.optimizedPlan.toString)
    val wantFilt = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(filt.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // the SAME registration serves the batch join through Ivf.knnJoinPq
    val queriesDf = vectors.take(3).map(v => (v._1, v._2))
      .toDF("query_id", "embedding")
    val nn = AnnRouting.knnJoin(SparkT.spark, idx, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 5)
    val exact = graft.vector.Knn.knnJoin(queriesDf,
      SparkT.spark.read.parquet(idx)
        .select($"vec_id".as("corpus_id"), $"embedding"),
      "query_id", "embedding", "corpus_id", "embedding", 5)
    assert(nn.select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().sorted.toSeq ===
      exact.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().sorted.toSeq)
    AnnRouting.unregister(SparkT.spark, idx)
  }

  test("cosine IVF-ADC route ENGAGES: the 1-cosine_sim sort key splices the screen (r17)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val tmp = Files.createTempDirectory("graft-annroute-ivfpqcos")
    val df = vectors.toDF("vec_id", "embedding", "label")
    def joins(d: DataFrame) =
      d.queryExecution.optimizedPlan.collect { case j: Join => j }
    val idx = tmp.resolve("ivfpqcos").toString
    val normed = df.withColumn("embn",
      graft.vector.Ivf.normalized($"embedding"))
    val m = graft.vector.Ivf.train(normed, "embn", nlist = 4)
    val pq = graft.vector.Ivf.buildIndexPq(df, "embedding", "vec_id", m,
      idx, subM = 4, codeK = 16, metric = Knn.Cosine)
    AnnRouting.registerIvfPq(SparkT.spark, idx, idx, m, pq,
      vecCol = "embedding", idCol = "vec_id", nprobe = m.nlist,
      refine = 40, metric = Knn.Cosine)
    // STRUCTURAL: a plain exact cosine scan would also return oracle
    // rows — the route regressing silently is exactly what this guards
    // (review r17-2-5), so assert the splice is IN the plan
    val rp = Knn.knn(SparkT.spark.read.parquet(idx),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    assert(joins(rp).nonEmpty, rp.queryExecution.optimizedPlan.toString)
    val wantCos = vectors
      .map { case (id, v, _) => (graft.vector.Ivf.scalarDist(
        Knn.Cosine, v, query), id) }
      .sortBy(identity).take(10).map(_._2)
    assert(rp.select("vec_id").as[Long].collect().toSeq === wantCos)
    // an L2 sort key must NOT route through the cosine registration
    val l2q = Knn.knn(SparkT.spark.read.parquet(idx),
      "embedding", "vec_id", query, 10, Knn.L2)
    assert(joins(l2q).isEmpty, l2q.queryExecution.optimizedPlan.toString)
    AnnRouting.unregister(SparkT.spark, idx)
  }

  test("quantized graph family routes: code-space leaf, consumed filter, epoch drop (r15)") {
    val tmp = Files.createTempDirectory("graft-annroute-qgraph")
    val baseQ = tmp.resolve("baseq").toString
    val idxQ = tmp.resolve("idxq").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), baseQ,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClusteredQuantized(
      SparkT.spark.read.parquet(baseQ), "embedding", "vec_id", idxQ,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    AnnRouting.registerGraphQuantized(SparkT.spark, baseQ, idxQ,
      vecCol = "embedding", idCol = "vec_id")
    def qLeaves(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case g: GraphCandidates if g.quantized => g
    }
    // family selection: the scan becomes a QUANTIZED GraphCandidates leaf
    val df = Knn.knn(SparkT.spark.read.parquet(baseQ),
      "embedding", "vec_id", query, 10)
    assert(qLeaves(df).nonEmpty, df.queryExecution.optimizedPlan.toString)
    // exact through the untouched Sort/Limit (k·refine coarse contract)
    assert(df.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // filtered: the condition is CONSUMED into the code-space walk's
    // allowed-id callback, and the result is the exact filtered top-k
    val filt = Knn.knn(
      SparkT.spark.read.parquet(baseQ).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(qLeaves(filt).exists(_.filterSql.isDefined),
      filt.queryExecution.optimizedPlan.toString)
    val wantFilt = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(filt.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // a segment append bumps the mutation epoch: the entry drops (exact
    // fullscan) until re-registration serves the appended corpus
    val extra = Seq((9003L, Array.fill(dim)(97f), 0))
      .toDF("vec_id", "embedding", "label")
    graft.vector.Hnsw.appendSegmentQuantized(extra, "embedding", "vec_id",
      idxQ)
    val dropped = Knn.knn(SparkT.spark.read.parquet(baseQ),
      "embedding", "vec_id", query, 10)
    assert(qLeaves(dropped).isEmpty,
      "stale quantized-graph entry must drop after append")
    AnnRouting.registerGraphQuantized(SparkT.spark, baseQ, idxQ,
      vecCol = "embedding", idCol = "vec_id")
    val rerouted = Knn.knn(SparkT.spark.read.parquet(baseQ),
      "embedding", "vec_id", query, 10)
    assert(qLeaves(rerouted).nonEmpty)
    assert(rerouted.select("vec_id").as[Long].collect().toSeq === exactTop10)
    AnnRouting.unregister(SparkT.spark, baseQ)
  }

  test("graph family: the adaptive-termination knob rides registration into the routed leaf (r14)") {
    val tmp = Files.createTempDirectory("graft-annroute-adapt")
    val baseG = tmp.resolve("basea").toString
    val idxG = tmp.resolve("idxa").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), baseG,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(baseG), "embedding", "vec_id", idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    def leafOf(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case g: GraphCandidates => g
    }
    // default registration: exact contract, adaptive off in the leaf
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id")
    val exact = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(leafOf(exact).exists(!_.adaptive))
    // opt-in: the knob lands in the leaf; at k = 10 the walk's k<=10
    // reference gating (knn.cpp:481-483) keeps the result exact, so the
    // plumbing is pinnable without loosening any contract
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id", adaptiveTermination = true)
    val adapt = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(leafOf(adapt).exists(_.adaptive),
      adapt.queryExecution.optimizedPlan.toString)
    assert(adapt.select("vec_id").as[Long].collect().toSeq === exactTop10)
    // the FILTERED routed leaf carries it too
    val filt = Knn.knn(
      SparkT.spark.read.parquet(baseG).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(leafOf(filt).exists(l => l.adaptive && l.filterSql.isDefined))
    AnnRouting.unregister(SparkT.spark, baseG)
  }

  test("graph family: hierarchy mode rides registration into the routed leaf (r15)") {
    // fixture sub-graphs sit below the hierMinRows auto-engage threshold;
    // this test pins the DESCENT itself, so force it (r16)
    SparkT.spark.conf.set("spark.graft.graph.hierMinRows", "0")
    val tmp = Files.createTempDirectory("graft-annroute-hier")
    val baseG = tmp.resolve("baseh").toString
    val idxG = tmp.resolve("idxh").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), baseG,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(baseG), "embedding", "vec_id", idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    def leafOf(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case g: GraphCandidates => g
    }
    // no layer sidecar yet: hierarchy registration fails loudly at
    // REGISTRATION, not at first query
    val e = intercept[IllegalArgumentException] {
      AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
        vecCol = "embedding", idCol = "vec_id", hierarchy = true)
    }
    assert(e.getMessage.contains("buildHierarchy"))
    graft.vector.Hnsw.buildHierarchy(SparkT.spark, idxG,
      graft.vector.Hnsw.Params(m = 8, efC = 32))
    AnnRouting.registerGraph(SparkT.spark, baseG, idxG,
      vecCol = "embedding", idCol = "vec_id", hierarchy = true)
    // the flag lands in the leaf AND the walk actually descends — full-ef
    // exactness alone cannot distinguish hier from flat (entry choice
    // cannot change an exhaustive walk), so the descent counter is the
    // execution-level pin (review r15-4: a dropped flag sailed through
    // the results-only assertion)
    val hier = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(leafOf(hier).exists(_.hier),
      hier.queryExecution.optimizedPlan.toString)
    val d0 = graft.vector.Hnsw.descents.get()
    assert(hier.select("vec_id").as[Long].collect().toSeq === exactTop10)
    assert(graft.vector.Hnsw.descents.get() > d0,
      "hier-registered route executed without a hierarchy descent")
    // the FILTERED routed leaf carries it too, and stays exact over the
    // allowed subset
    val filt = Knn.knn(
      SparkT.spark.read.parquet(baseG).filter($"label" === 2),
      "embedding", "vec_id", query, 10)
    assert(leafOf(filt).exists(l => l.hier && l.filterSql.isDefined))
    val wantFilt = vectors.filter(_._3 == 2)
      .map { case (id, v, _) => (l2(v, query), id) }.sorted.take(10).map(_._2)
    assert(filt.select("vec_id").as[Long].collect().toSeq === wantFilt)
    // QUANTIZED family: hierarchy registration demands the code-space
    // sidecar, then rides into the quantized leaf and stays exact
    val idxQ = tmp.resolve("idxqh").toString
    graft.vector.Hnsw.buildIndexClusteredQuantized(
      SparkT.spark.read.parquet(baseG), "embedding", "vec_id", idxQ,
      graft.vector.Hnsw.Params(m = 8, efC = 32, partitions = 4))
    val eq = intercept[IllegalArgumentException] {
      AnnRouting.registerGraphQuantized(SparkT.spark, baseG, idxQ,
        vecCol = "embedding", idCol = "vec_id", hierarchy = true)
    }
    assert(eq.getMessage.contains("buildHierarchyQuantized"))
    graft.vector.Hnsw.buildHierarchyQuantized(SparkT.spark, idxQ,
      graft.vector.Hnsw.Params(m = 8, efC = 32))
    AnnRouting.registerGraphQuantized(SparkT.spark, baseG, idxQ,
      vecCol = "embedding", idCol = "vec_id", hierarchy = true)
    val qh = Knn.knn(SparkT.spark.read.parquet(baseG),
      "embedding", "vec_id", query, 10)
    assert(leafOf(qh).exists(l => l.quantized && l.hier),
      qh.queryExecution.optimizedPlan.toString)
    val dq0 = graft.vector.Hnsw.descents.get()
    assert(qh.select("vec_id").as[Long].collect().toSeq === exactTop10)
    assert(graft.vector.Hnsw.descents.get() > dq0,
      "hier-registered quantized route executed without a descent")
    // the batch-join leg of the SAME registration descends too
    val queriesDf = vectors.take(3).map(v => (v._1, v._2))
      .toDF("query_id", "embedding")
    val dj0 = graft.vector.Hnsw.descents.get()
    AnnRouting.knnJoin(SparkT.spark, baseG, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 5).collect()
    assert(graft.vector.Hnsw.descents.get() > dj0,
      "hier-registered batch join executed without a descent")
    AnnRouting.unregister(SparkT.spark, baseG)
    SparkT.spark.conf.unset("spark.graft.graph.hierMinRows")
  }

  test("routing preserves downstream projections (round/select shapes)") {
    val df = Knn.knn(SparkT.spark.read.parquet(baseDir),
        "embedding", "vec_id", query, 10)
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    assert(scanPaths(df).exists(_.contains("idx")))
    assert(df.count() === 10)
  }

  test("batch-join dispatch serves the registered family; unregistered tables fall back exact (r15)") {
    import graft.vector.Quantize
    val queriesDf = vectors.take(5).map(v => (v._1, v._2))
      .toDF("query_id", "embedding")
    val exact = Knn.knnJoin(queriesDf,
        SparkT.spark.read.parquet(baseDir)
          .select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 4)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    def run(df: DataFrame, label: String): Unit =
      assert(df.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet === exact, label)
    // the shared fixture registers IVF at nprobe = nlist → the dispatched
    // join takes the list-probed leg and equals brute force
    run(AnnRouting.knnJoin(SparkT.spark, baseDir, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 4), "ivf leg")
    // unregistered copy → the conservative exact fullscan fallback
    val un = Files.createTempDirectory("graft-annjoin").resolve("u").toString
    SparkT.spark.read.parquet(baseDir).write.parquet(un)
    run(AnnRouting.knnJoin(SparkT.spark, un, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 4), "fallback")
    // a quant table registered as its own base → the screened-join leg
    val m = Quantize.train(SparkT.spark.read.parquet(baseDir), "embedding")
    val qt = Files.createTempDirectory("graft-annjoin").resolve("q").toString
    Quantize.quantizeTable(SparkT.spark.read.parquet(baseDir),
      "embedding", "qvec", m).write.parquet(qt)
    AnnRouting.registerQuant(SparkT.spark, qt, qt, m,
      vecCol = "embedding", idCol = "vec_id", refine = 64)
    run(AnnRouting.knnJoin(SparkT.spark, qt, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 4), "quant leg")
    AnnRouting.unregister(SparkT.spark, qt)
  }

  test("batch-join dispatch is metric-aware: matching registrations serve, mismatches fall back exact (r20)") {
    import graft.vector.Quantize
    val df = vectors.toDF("vec_id", "embedding", "label")
    val queriesDf = vectors.take(5).map(v => (v._1, v._2))
      .toDF("query_id", "embedding")
    def exact(metric: Knn.Metric): Set[(Long, Long, Int)] =
      Knn.knnJoin(queriesDf,
          df.select($"vec_id".as("corpus_id"), $"embedding"),
          "query_id", "embedding", "corpus_id", "embedding", k = 4, metric)
        .select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
    def rows(d: DataFrame): Set[(Long, Long, Int)] =
      d.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
    // the executed plan's ReadSchema is column-pruned: the screened leg
    // reads the code column, the exact fallback never does
    def readsCodes(d: DataFrame): Boolean =
      d.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("ReadSchema"))
        .exists(_.contains("qvec"))
    // an IP-trained int8 table registered as its own base
    val m = Quantize.train(df, "embedding", Knn.IP)
    val tmp = Files.createTempDirectory("graft-annjoin-metric")
    val qt = tmp.resolve("qip").toString
    Writer.write(Quantize.quantizeTable(df, "embedding", "qvec", m),
      qt, sortBy = Seq("vec_id"))
    AnnRouting.registerQuant(SparkT.spark, qt, qt, m,
      vecCol = "embedding", idCol = "vec_id", refine = 64)
    // matching metric (IP): the screened leg serves — the plan reads the
    // code column — and equals the exact IP cross join
    val served = AnnRouting.knnJoin(SparkT.spark, qt, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 4, Knn.IP)
    assert(readsCodes(served), "matching-metric join did not route")
    assert(rows(served) === exact(Knn.IP), "routed IP join != exact IP")
    // mismatched metric (cosine requested of the IP registration): the
    // join takes the exact fullscan fallback — no code read, cosine-exact
    // (pre-r20 this CRASHED in requireFlatMetric)
    val fell = AnnRouting.knnJoin(SparkT.spark, qt, "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 4, Knn.Cosine)
    assert(!readsCodes(fell), "mismatched-metric join touched the codes")
    assert(rows(fell) === exact(Knn.Cosine), "fallback != exact cosine")
    AnnRouting.unregister(SparkT.spark, qt)
    // graph family: the shared L2 IVF fixture registration must NOT serve
    // an IP batch join (pre-r20 it silently served L2 order) — the
    // fallback is IP-exact over the base table
    val viaBase = AnnRouting.knnJoin(SparkT.spark, baseDir,
      "embedding", "vec_id",
      queriesDf, "query_id", "embedding", "corpus_id", 4, Knn.IP)
    val exactBase = Knn.knnJoin(queriesDf,
        SparkT.spark.read.parquet(baseDir)
          .select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 4, Knn.IP)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(rows(viaBase) === exactBase,
      "IP join through an L2 registration did not fall back exact")
  }

  test("cosine flat families route the 1-cosine_sim sort key; L2 keys refuse them (r18)") {
    import graft.vector.Quantize
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = vectors.toDF("vec_id", "embedding", "label")
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val wantCos = vectors.map { case (id, v, _) => (cosDist(v, query), id) }
      .sorted.take(10).map(_._2)
    def joins(d: DataFrame) = d.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    // int8 cosine model: the cosine top-k routes through the screen splice
    val tmp = Files.createTempDirectory("graft-annroute-cos")
    val qt = tmp.resolve("qcos").toString
    val m = Quantize.train(df, "embedding", Knn.Cosine)
    Writer.write(Quantize.quantizeTable(df, "embedding", "qvec", m),
      qt, sortBy = Seq("vec_id"))
    AnnRouting.registerQuant(SparkT.spark, qt, qt, m,
      vecCol = "embedding", idCol = "vec_id", refine = 16)
    val routed = Knn.knn(SparkT.spark.read.parquet(qt),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    assert(joins(routed).nonEmpty,
      routed.queryExecution.optimizedPlan.toString)
    assert(routed.select("vec_id").as[Long].collect().toSeq === wantCos)
    // an L2 sort key over the cosine registration must NOT route
    val l2q = Knn.knn(SparkT.spark.read.parquet(qt),
      "embedding", "vec_id", query, 10, Knn.L2)
    assert(joins(l2q).isEmpty)
    AnnRouting.unregister(SparkT.spark, qt)
    // binary residual cosine model: same dispatch contract
    val bt = tmp.resolve("bcos").toString
    val mb = Quantize.trainBinary(df, "embedding", Knn.Cosine)
    Writer.write(Quantize.binarizeTableResidual(df, "embedding", "bvec",
      "rfac", mb), bt, sortBy = Seq("vec_id"))
    AnnRouting.registerBinary(SparkT.spark, bt, bt, mb,
      vecCol = "embedding", idCol = "vec_id", refine = 48,
      rCol = Some("rfac"))
    val routedB = Knn.knn(SparkT.spark.read.parquet(bt),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    assert(joins(routedB).nonEmpty)
    assert(routedB.select("vec_id").as[Long].collect().toSeq === wantCos)
    AnnRouting.unregister(SparkT.spark, bt)
    // the L2-model registration (the shared r10 fixture behavior) keeps
    // refusing cosine keys — familyMetric now reads the model
    val qtL2 = tmp.resolve("ql2").toString
    val mL2 = Quantize.train(df, "embedding")
    Writer.write(Quantize.quantizeTable(df, "embedding", "qvec", mL2),
      qtL2, sortBy = Seq("vec_id"))
    AnnRouting.registerQuant(SparkT.spark, qtL2, qtL2, mL2,
      vecCol = "embedding", idCol = "vec_id")
    val cosOverL2 = Knn.knn(SparkT.spark.read.parquet(qtL2),
      "embedding", "vec_id", query, 10, Knn.Cosine)
    assert(joins(cosOverL2).isEmpty)
    AnnRouting.unregister(SparkT.spark, qtL2)
  }

  test("IP routes: IVF (augmented k-means), routed graph, flat quant — 1-ip_score sort key; L2 keys refuse (r19)") {
    import graft.vector.{Hnsw, Quantize}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = vectors.toDF("vec_id", "embedding", "label")
    def ipDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); i += 1 }
      1.0 - dot
    }
    val wantIp = vectors.map { case (id, v, _) => (ipDist(v, query), id) }
      .sortBy(t => (t._1, t._2)).take(10).map(_._2)
    def joins(d: DataFrame) = d.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    val tmp = Files.createTempDirectory("graft-annroute-ip")
    // 1. plain IVF: model trained in the augmented space, route on the
    // 1-ip_score key, nprobe = nlist exact
    val base = tmp.resolve("base").toString
    val idx = tmp.resolve("ivfip").toString
    Writer.write(df, base, sortBy = Seq("vec_id"))
    val m = Ivf.train(SparkT.spark.read.parquet(base), "embedding",
      nlist = 6, metric = Knn.IP)
    assert(m.centroids.head.length === query.length + 1,
      "IP centroids must live in the augmented (dim+1) space")
    Ivf.buildIndex(SparkT.spark.read.parquet(base), "embedding", m, idx)
    AnnRouting.register(SparkT.spark, base, idx, m,
      vecCol = "embedding", nprobe = m.nlist)
    val routedIvf = Knn.knn(SparkT.spark.read.parquet(base),
      "embedding", "vec_id", query, 10, Knn.IP)
    assert(scanPaths(routedIvf).exists(_.contains("ivfip")),
      routedIvf.queryExecution.optimizedPlan.toString)
    assert(routedIvf.select("vec_id").as[Long].collect().toSeq === wantIp)
    // an L2 sort key over the IP registration must NOT route
    val l2OverIp = Knn.knn(SparkT.spark.read.parquet(base),
      "embedding", "vec_id", query, 10, Knn.L2)
    assert(!scanPaths(l2OverIp).exists(_.contains("ivfip")))
    AnnRouting.unregister(SparkT.spark, idx)
    // 2. routed graph: sidecar metric=ip + M, automatic route
    val g = tmp.resolve("gip").toString
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", g,
      Hnsw.Params(m = 8, efC = 64, partitions = 4), Knn.IP)
    AnnRouting.registerGraph(SparkT.spark, base, g,
      vecCol = "embedding", idCol = "vec_id", ef = 1 << 20)
    val routedG = Knn.knn(SparkT.spark.read.parquet(base),
      "embedding", "vec_id", query, 10, Knn.IP)
    assert(routedG.select("vec_id").as[Long].collect().toSeq === wantIp)
    AnnRouting.unregister(SparkT.spark, g)
    // 3. flat int8 IP model: screen splice on the 1-ip_score key
    val qt = tmp.resolve("qip").toString
    val qm = Quantize.train(df, "embedding", Knn.IP)
    Writer.write(Quantize.quantizeTable(df, "embedding", "qvec", qm),
      qt, sortBy = Seq("vec_id"))
    AnnRouting.registerQuant(SparkT.spark, qt, qt, qm,
      vecCol = "embedding", idCol = "vec_id", refine = 16)
    val routedQ = Knn.knn(SparkT.spark.read.parquet(qt),
      "embedding", "vec_id", query, 10, Knn.IP)
    assert(joins(routedQ).nonEmpty)
    assert(routedQ.select("vec_id").as[Long].collect().toSeq === wantIp)
    AnnRouting.unregister(SparkT.spark, qt)
  }

  test("unregistered batch join past the product threshold warns; registered/small ones do not (r18)") {
    val queriesDf = vectors.take(5).map(v => (v._1, v._2))
      .toDF("query_id", "embedding")
    val un = Files.createTempDirectory("graft-annguard").resolve("u").toString
    SparkT.spark.read.parquet(baseDir).write.parquet(un)
    // 5 queries x 300 corpus rows = 1500 pairs: over a threshold of 1000
    SparkT.spark.conf
      .set("spark.graft.knnJoin.unindexedProductWarn", "1000")
    try {
      val before = AnnRouting.unindexedJoinWarnings.get()
      AnnRouting.knnJoin(SparkT.spark, un, "embedding", "vec_id",
        queriesDf, "query_id", "embedding", "corpus_id", 4)
      assert(AnnRouting.unindexedJoinWarnings.get() > before,
        "an unregistered join past the threshold must warn")
      // the REGISTERED base never consults the guard (indexed leg)
      val beforeReg = AnnRouting.unindexedJoinWarnings.get()
      AnnRouting.knnJoin(SparkT.spark, baseDir, "embedding", "vec_id",
        queriesDf, "query_id", "embedding", "corpus_id", 4)
      assert(AnnRouting.unindexedJoinWarnings.get() === beforeReg)
      // a small product stays silent
      SparkT.spark.conf
        .set("spark.graft.knnJoin.unindexedProductWarn", "1e7")
      val beforeSmall = AnnRouting.unindexedJoinWarnings.get()
      AnnRouting.knnJoin(SparkT.spark, un, "embedding", "vec_id",
        queriesDf, "query_id", "embedding", "corpus_id", 4)
      assert(AnnRouting.unindexedJoinWarnings.get() === beforeSmall)
      // strict mode refuses outright
      SparkT.spark.conf
        .set("spark.graft.knnJoin.unindexedProductWarn", "1000")
      SparkT.spark.conf.set("spark.graft.knnJoin.unindexedStrict", "true")
      assertThrows[IllegalStateException] {
        AnnRouting.knnJoin(SparkT.spark, un, "embedding", "vec_id",
          queriesDf, "query_id", "embedding", "corpus_id", 4)
      }
    } finally {
      SparkT.spark.conf.unset("spark.graft.knnJoin.unindexedProductWarn")
      SparkT.spark.conf.unset("spark.graft.knnJoin.unindexedStrict")
    }
  }

  test("ANN registration is catalog-first: zero driver footer reads, identical rows/nulls (r19)") {
    import graft.stats.Stats
    val tmp = Files.createTempDirectory("graft-anncat")
    val base = tmp.resolve("nbase").toString
    val idx = tmp.resolve("nidx").toString
    // 300 rows, 30 NULL vectors — registration must see both the count
    // and the nulls (they gate the NULLS-FIRST route refusal)
    val rows = (0L until 300L).map { i =>
      (i, if (i % 10 == 7) null
          else Array.tabulate(8)(j => (i + j).toFloat))
    }
    Writer.write(rows.toDF("vec_id", "embedding"), base,
      sortBy = Seq("vec_id"), files = 3)
    val nn = SparkT.spark.read.parquet(base)
      .filter($"embedding".isNotNull)
    val m = Ivf.train(nn, "embedding", nlist = 4)
    Ivf.buildIndex(nn, "embedding", m, idx)
    def entry(): AnnRouting.Registered = {
      val p = new org.apache.hadoop.fs.Path(base)
      val q = p.getFileSystem(
        SparkT.spark.sparkContext.hadoopConfiguration).makeQualified(p)
      AnnRouting.lookup(q.toString).get
    }
    // sweep-based truth (no catalog registered)
    AnnRouting.register(SparkT.spark, base, idx, m,
      vecCol = "embedding", nprobe = m.nlist)
    val sweep = entry()
    assert(sweep.rows === 300L)
    assert(sweep.vecNulls === Some(30L))
    AnnRouting.unregister(SparkT.spark, idx)
    // catalog registered → re-registration does ZERO driver footer reads
    // and lands identical rows/nulls (VERDICT r18 #1)
    val cat = tmp.resolve("ncat").toString
    Stats.buildCatalog(SparkT.spark, base, Seq("embedding"))
      .write.parquet(cat)
    Stats.registerCatalog(SparkT.spark, base,
      SparkT.spark.read.parquet(cat))
    try {
      val before = Stats.footerReads.get()
      AnnRouting.register(SparkT.spark, base, idx, m,
        vecCol = "embedding", nprobe = m.nlist)
      assert(Stats.footerReads.get() === before,
        s"registration read ${Stats.footerReads.get() - before} footers " +
          "despite a registered catalog")
      val cataloged = entry()
      assert(cataloged.rows === sweep.rows)
      assert(cataloged.vecNulls === sweep.vecNulls)
    } finally {
      Stats.unregisterCatalog(SparkT.spark, base)
      AnnRouting.unregister(SparkT.spark, idx)
    }
    // distributed fallback (file count above the driver threshold): the
    // buildCatalog-backed read lands the same numbers (the footer counter
    // cannot distinguish executor reads in local mode, so this pins value
    // identity, not IO locality)
    SparkT.spark.conf.set("spark.graft.ann.registerDriverMaxFiles", "0")
    try {
      AnnRouting.register(SparkT.spark, base, idx, m,
        vecCol = "embedding", nprobe = m.nlist)
      val dist = entry()
      assert(dist.rows === sweep.rows)
      assert(dist.vecNulls === sweep.vecNulls)
    } finally {
      SparkT.spark.conf.unset("spark.graft.ann.registerDriverMaxFiles")
      AnnRouting.unregister(SparkT.spark, idx)
    }
  }

  test("semantics-changing operators between Sort and scan refuse the " +
      "route; hostile sort shapes refuse too (r18 review)") {
    val rd = SparkT.spark.read.parquet(baseDir)
    import graft.vector.distances
    val d = distances.l2Dist(col("embedding"), typedLit(query))
    // inner limit restricts ELIGIBLE rows before the top-k: routing
    // through a truncating leaf would answer the GLOBAL top-10
    val innerLimited = rd.orderBy(col("vec_id")).limit(40)
      .orderBy(d.asc).limit(10).select(col("vec_id"))
    assert(scanPaths(innerLimited).exists(_.contains("base")),
      "inner limit must refuse the route")
    val got = innerLimited.as[Long].collect().toSet
    val want = vectors.sortBy(_._1).take(40)
      .map { case (id, v, _) => (l2(v, query), id) }
      .sorted.take(10).map(_._2).toSet
    assert(got === want)
    // the IVF leaf swap truncates nothing: ANY secondary keys keep exact
    // semantics through the Sort, so even a DESC tiebreak routes (and at
    // nprobe = nlist stays exact)
    val descTie = rd.orderBy(d.asc, col("vec_id").desc).limit(10)
      .select(col("vec_id"))
    assert(scanPaths(descTie).exists(_.contains("idx")))
    assert(descTie.as[Long].collect().toSet === exactTop10.toSet)
    // a TRUNCATING family (clustered graph) must refuse a DESC secondary
    // -- ties at the kth-distance boundary could resolve differently than
    // the k-row candidate set retained -- while (id ASC), the leaf's own
    // tiebreak, still routes
    val tmpG = java.nio.file.Files.createTempDirectory("graft-anntie")
    val gb = tmpG.resolve("gb").toString
    val gi = tmpG.resolve("gi").toString
    Writer.write(vectors.toDF("vec_id", "embedding", "label"), gb,
      sortBy = Seq("vec_id"))
    graft.vector.Hnsw.buildIndexClustered(
      SparkT.spark.read.parquet(gb), "embedding", "vec_id", gi,
      graft.vector.Hnsw.Params(m = 4, efC = 16, partitions = 2))
    AnnRouting.registerGraph(SparkT.spark, gb, gi, "embedding", "vec_id")
    try {
      val grd = SparkT.spark.read.parquet(gb)
      val gD = distances.l2Dist(col("embedding"), typedLit(query))
      val gDesc = grd.orderBy(gD.asc, col("vec_id").desc).limit(10)
        .select(col("vec_id"))
      assert(scanPaths(gDesc).exists(_.contains("gb")),
        "graph family must refuse a DESC secondary tiebreak")
      val gAsc = grd.orderBy(gD.asc, col("vec_id").asc).limit(10)
        .select(col("vec_id"))
      assert(scanPaths(gAsc).isEmpty, // candidates leaf: no parquet scan
        "the (dist, id ASC) shape must still route on the graph family")
      assert(gAsc.as[Long].collect().toSeq === exactTop10)
    } finally AnnRouting.unregister(SparkT.spark, gb)
  }

  test("a table holding NULL vectors refuses the route (exact NULLS FIRST " +
      "semantics); IsNotNull restores it (r18 review)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-annnull")
    val base = tmp.resolve("b").toString
    val idx = tmp.resolve("i").toString
    val withNull = vectors.map { case (id, v, l) => (id, v, l) }
      .toDF("vec_id", "embedding", "label")
      .unionByName(Seq((9999L, null.asInstanceOf[Array[Float]], 0))
        .toDF("vec_id", "embedding", "label"))
    Writer.write(withNull, base, sortBy = Seq("vec_id"))
    val rd0 = SparkT.spark.read.parquet(base)
    val m = Ivf.train(rd0.filter(col("embedding").isNotNull), "embedding",
      nlist = 6)
    Ivf.buildIndex(rd0.filter(col("embedding").isNotNull), "embedding", m, idx)
    AnnRouting.register(SparkT.spark, base, idx, m,
      vecCol = "embedding", nprobe = m.nlist)
    try {
      import graft.vector.distances
      val d = distances.l2Dist(col("embedding"), typedLit(query))
      val rd = SparkT.spark.read.parquet(base)
      // bare sort: ASC NULLS FIRST puts the null-vec row on top of the
      // exact result -- the routed leaf could never emit it, so the
      // route must stand down
      val bare = rd.orderBy(d.asc).limit(3).select(col("vec_id"))
      assert(scanPaths(bare).exists(_.contains("/b")),
        "null vectors present: must refuse the route")
      assert(bare.as[Long].collect().contains(9999L),
        "the exact plan surfaces the null-distance row first")
      // NULLS LAST pushes null distances to the bottom -- the routed
      // plan's candidate set is then exact, so the route is restored
      val nl = rd.orderBy(d.asc_nulls_last).limit(10).select(col("vec_id"))
      assert(scanPaths(nl).exists(_.contains("/i")),
        "NULLS LAST must restore routing")
      assert(nl.as[Long].collect().toSeq === exactTop10)
    } finally AnnRouting.unregister(SparkT.spark, base)
  }

  test("k = 0 routed searches refuse loudly instead of crashing (r18 review)") {
    // build a tiny clustered graph to reach routedSchedule
    val tmp = java.nio.file.Files.createTempDirectory("graft-annk0")
    val g = tmp.resolve("g").toString
    graft.vector.Hnsw.buildIndexClustered(
      vectors.toDF("vec_id", "embedding", "label"), "embedding", "vec_id",
      g, graft.vector.Hnsw.Params(m = 4, efC = 16, partitions = 2))
    val e = intercept[IllegalArgumentException](
      graft.vector.Hnsw.searchRouted(SparkT.spark, g, "vec_id", query,
        k = 0, ef = 16))
    assert(e.getMessage.contains("k >= 1"))
  }
}
