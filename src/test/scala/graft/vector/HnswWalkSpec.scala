package graft.vector

import graft.GenCheck
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The layer-0 beam walk and the graph build:
  *   - exhaustiveness: `ef >= n` returns exactly the brute-force
  *     `(dist, idx)`-sorted allowed set, on random small sub-graphs with
  *     duplicate vectors (distance ties) and random `allowed` sets;
  *   - golden pins at small `ef`, flat and from a hierarchy entry: the
  *     built adjacency, the rehydrated adjacency and the walk results are
  *     pinned value for value, so a rewrite of the walk must return the
  *     identical results, not merely equally good ones; one Spark-level
  *     pin carries the same claim through the routed walks, the graph batch
  *     joins and their grouped top-k;
  *   - a pin table over node space {float, int8} × entry {flat, hierarchy}
  *     × metric {L2, cosine, IP} of the routed single search, the batch
  *     join and the per-pid walk counters, plus a segment append then
  *     search per space. */
class HnswWalkSpec extends AnyFunSuite with GenCheck {

  private val ordDI = Ordering.Tuple2[Double, Int]

  /** A walk's result heap as ascending (dist, idx) pairs. */
  private def pairs(r: TopK.BoundedTopK): Seq[(Double, Int)] =
    (0 until r.size).map(j => (r.value(j), r.id(j).toInt))

  /** A sub-graph over `n` vectors drawn from a small integer grid, so
    * duplicates and distance ties are common. */
  private def gridGraph(seed: Long, n: Int, dim: Int, grid: Int)
      : Hnsw.SubGraph[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextInt(grid).toFloat))
    new Hnsw.SubGraph(Array.tabulate(n)(i => i.toLong * 3 + 1), vecs,
      new Hnsw.FloatSpace(Knn.L2))
  }

  private val walkGen = for {
    n <- Gen.choose(1, 60)
    dim <- Gen.choose(1, 4)
    grid <- Gen.choose(1, 4)
    m <- Gen.choose(2, 6)
    efC <- Gen.choose(1, 16)
    seed <- Gen.choose(0L, 1L << 40)
    allowedBits <- Gen.listOfN(n, Gen.oneOf(true, true, false))
    entry <- Gen.choose(0, n - 1)
    extraEf <- Gen.choose(0, 5)
    q <- Gen.listOfN(dim, Gen.choose(-1, 4).map(_.toFloat))
  } yield (n, dim, grid, m, efC, seed, allowedBits.toArray, entry, extraEf,
    q.toArray)

  test("ef >= n returns exactly the brute-force (dist, idx)-sorted allowed set") {
    forAll(walkGen, n = 300) {
      case (n, dim, grid, m, efC, seed, allowed, entry, extraEf, q) =>
        val g = gridGraph(seed, n, dim, grid)
        g.build(m, efC)
        val got = pairs(g.searchBeam(q, n + extraEf, n, allowed(_),
          entry = entry))
        val want = (0 until n).filter(allowed(_))
          .map(i => (g.nodeDist(i, q), i)).sorted(ordDI)
        assert(got === want,
          s"n=$n dim=$dim grid=$grid m=$m efC=$efC seed=$seed entry=$entry")
    }
  }

  /** Order-sensitive fingerprint of (dist, idx) results or adjacency. */
  private def fp(xs: Iterator[(Double, Int)]): Long =
    xs.foldLeft(1125899906842597L) { case (h, (d, i)) =>
      (h * 31 + java.lang.Double.doubleToLongBits(d)) * 31 + i
    }

  private def adjFp[V](g: Hnsw.SubGraph[V]): Long =
    fp((0 until g.n).iterator.flatMap(i =>
      g.neighbors(i).iterator.map(j => (i.toDouble, j))))

  /** The golden fixture: 400 nodes, dim 6 over a 5-value grid (many
    * duplicate vectors), m = 4, efC = 12; queries from the same grid. */
  private lazy val golden = {
    val g = gridGraph(20261017L, 400, 6, 5)
    g.build(4, 12)
    g
  }
  private lazy val goldenQueries = {
    val rnd = new java.util.Random(7L)
    Array.fill(12)(Array.fill(6)(rnd.nextInt(5).toFloat))
  }

  private def walkFp[V](g: Hnsw.SubGraph[V], ef: Int,
                        allowed: Int => Boolean,
                        entryOf: Array[Float] => Int): (Long, Long, Long) = {
    val c = new Array[Long](2)
    val h = fp(goldenQueries.iterator.flatMap { q =>
      pairs(g.searchBeam(q, ef, g.n, allowed, counters = c,
        entry = entryOf(q))).iterator
    })
    (h, c(0), c(1))
  }

  test("golden: build adjacency and small-ef flat walks are unchanged") {
    val g = golden
    assert(adjFp(g) === GoldenBuildAdj)
    val top = pairs(g.searchBeam(goldenQueries(0), 8, g.n)).map(_._2)
    assert(top === GoldenTopFirst)
    assert(walkFp(g, 8, _ => true, _ => 0) === GoldenFlat)
    assert(walkFp(g, 5, i => i % 3 != 1, _ => 0) === GoldenFlatAllowed)
    assert(walkFp(g, 6, _ => true, _ => 211) === GoldenFlatEntry)
  }

  test("golden: rehydrated graph and a hierarchy-entry walk are unchanged") {
    val g = golden
    // the stored form: neighbour ids ascending, as the graph table holds them
    val rows = (0 until g.n).map(i =>
      (g.ids(i), g.vecs(i), g.neighbors(i).map(g.ids(_)).sorted.toArray))
    val r = Hnsw.rehydrate(new scala.util.Random(3).shuffle(rows).toArray,
      new Hnsw.FloatSpace(Knn.L2))
    assert(adjFp(r) === GoldenRehydratedAdj)
    assert(walkFp(r, 8, _ => true, _ => 0) === GoldenRehydrated)
    val layerRows = Hnsw.layerRowsFor(g.ids.zip(g.vecs), 0, g.space, 4, 12)
      .map { case Row(_, l: Int, id: Long, nb: Seq[Long @unchecked]) =>
        (0, (l, id, nb.toArray))
      }.toArray
    val layers = Hnsw.hydratedLayers(r, layerRows.iterator)
    assert(layers.nonEmpty)
    val entries = goldenQueries.map(q => Hnsw.descend(r, layers, q, null))
    assert(entries.toSeq === GoldenEntries)
    assert(walkFp(r, 6, _ => true, q => Hnsw.descend(r, layers, q, null))
      === GoldenHier)
  }

  test("golden: small-ef routed walks and batch joins through Spark are unchanged") {
    val spark = graft.SparkT.spark
    import spark.implicits._
    val (corpus, queries, qs, _) = tableFixture
    val dir = java.nio.file.Files.createTempDirectory("graft-walkpin")
    val g = dir.resolve("g").toString
    val qg = dir.resolve("qg").toString
    val p = Hnsw.Params(m = 4, efC = 12, partitions = 3)
    Hnsw.buildIndexClustered(corpus, "vec", "id", g, p)
    Hnsw.buildHierarchy(spark, g, p)
    Hnsw.buildIndexClusteredQuantized(corpus, "vec", "id", qg, p)
    def joinFp(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "cid", "dist", "rn").as[(Long, Long, Double, Int)]
        .collect().sortBy(t => (t._1, t._4)).iterator
        .map(t => (t._3, (t._1 * 1000 + t._2).toInt * 16 + t._4))
        .foldLeft(1125899906842597L) { case (h, (d, i)) =>
          (h * 31 + java.lang.Double.doubleToLongBits(d)) * 31 + i }
    val flat = joinFp(Hnsw.knnJoinRouted(spark, g, queries, "qid", "qvec",
      "cid", 5, ef = 5))
    val hier = joinFp(Hnsw.knnJoinRouted(spark, g, queries, "qid", "qvec",
      "cid", 5, ef = 5, hier = true, hierMin = 0))
    val quant = joinFp(Hnsw.knnJoinQuantized(spark, qg, corpus, "id", "vec",
      queries, "qid", "qvec", "cid", 5, ef = 5, refine = 2))
    val q0 = qs.head
    val routed = Hnsw.searchRoutedRaw(spark, g, q0, 5, ef = 5)._1
      .map(t => (t._1, t._2)).toSeq
    val coarse = Hnsw.searchQuantizedCoarse(spark, qg, q0, 5, ef = 5,
      refine = 2)._1
    assert(flat === 2765087632999916878L)
    assert(hier === -8399350867969920058L)
    assert(quant === 7321725570995576195L)
    assert(routed === Seq((62L, 1.7320508075688772), (212L, 1.7320508075688772),
      (506L, 2.0), (2L, 2.23606797749979), (38L, 2.23606797749979)))
    assert(coarse === Seq(428L, 164L, 62L, 212L, 512L, 440L, 194L, 464L, 524L,
      506L))
  }

  /** The Spark-level table fixture: 600 rows around 6 grid centres
    * (dim 8), 20 join queries near them, three single-search queries. */
  private lazy val tableFixture = {
    val spark = graft.SparkT.spark
    import spark.implicits._
    val rnd = new java.util.Random(11L)
    val centers = Array.fill(6)(Array.fill(8)(rnd.nextInt(7).toFloat))
    val corpus = (0 until 600).map { i =>
      (i.toLong, centers(i % 6).map(c => c + rnd.nextInt(3).toFloat))
    }.toDF("id", "vec")
    val queries = (0 until 20).map { i =>
      (1000L + i, centers(i % 6).map(c => c + rnd.nextInt(4).toFloat))
    }.toDF("qid", "qvec")
    val qs = Seq(centers(2).map(_ + 1.0f), centers(5).map(_ + 2.0f),
      centers(0).map(_ - 0.5f))
    val r2 = new java.util.Random(13L)
    val extra = (600 until 720).map { i =>
      (i.toLong, centers(i % 6).map(c => c + r2.nextInt(3).toFloat - 0.5f))
    }.toDF("id", "vec")
    (corpus, queries, qs, extra)
  }

  private def fold(xs: Iterator[(Double, Long)]): Long =
    xs.foldLeft(1125899906842597L) { case (h, (d, i)) =>
      (h * 31 + java.lang.Double.doubleToLongBits(d)) * 31 + i }

  /** The three pinned surfaces of one clustered index at ef 5 (refine 2
    * for codes): the routed single-search rows ((id, dist) for floats, the
    * coarse ids for codes) over the three queries, the batch-join rows and
    * the per-pid walk counters. */
  private def surfaces(path: String, codes: Boolean, hier: Boolean,
                       raw: org.apache.spark.sql.DataFrame)
      : (Long, Long, Long) = {
    val spark = graft.SparkT.spark
    import spark.implicits._
    val (_, queries, qs, _) = tableFixture
    val single = fold(qs.iterator.flatMap { q =>
      if (codes) Hnsw.searchQuantizedCoarse(spark, path, q, 5, ef = 5,
        refine = 2, hier = hier, hierMin = 0)._1.iterator.map(id => (0.0, id))
      else Hnsw.searchRoutedRaw(spark, path, q, 5, ef = 5, hier = hier,
        hierMin = 0)._1.iterator.map(t => (t._2, t._1))
    })
    val joined =
      if (codes) Hnsw.knnJoinQuantized(spark, path, raw, "id", "vec", queries,
        "qid", "qvec", "cid", 5, ef = 5, refine = 2, hier = hier, hierMin = 0)
      else Hnsw.knnJoinRouted(spark, path, queries, "qid", "qvec", "cid", 5,
        ef = 5, hier = hier, hierMin = 0)
    val join = fold(joined.select("qid", "cid", "dist", "rn")
      .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4))
      .iterator.map(t => (t._3, (t._1 * 1000 + t._2) * 16 + t._4)))
    val stats = fold(qs.iterator.map { q =>
      val s = Hnsw.walkStats(spark, path, q, 5, 5, hier).sortBy(_._1)
      (0.0, fold(s.iterator.flatMap(t =>
        Iterator((t._3.toDouble, t._1.toLong), (t._4.toDouble, t._2.toLong)))))
    })
    (single, join, stats)
  }

  private def buildPinned(path: String, codes: Boolean, metric: Knn.Metric,
                          p: Hnsw.Params): Unit = {
    val corpus = tableFixture._1
    if (codes) Hnsw.buildIndexClusteredQuantized(corpus, "vec", "id", path, p,
      metric)
    else Hnsw.buildIndexClustered(corpus, "vec", "id", path, p, metric)
    Hnsw.buildHierarchy(graft.SparkT.spark, path, p)
  }

  private val Floats = false
  private val Codes = true
  private val Flat = false
  private val Hier = true

  test("pins: node space × entry × metric, single search, batch join and walk counters") {
    val dir = java.nio.file.Files.createTempDirectory("graft-walktable")
    val p = Hnsw.Params(m = 4, efC = 12, partitions = 3)
    for (codes <- Seq(Floats, Codes); metric <- Seq(Knn.L2, Knn.Cosine, Knn.IP)) {
      val path = dir.resolve(s"${if (codes) "q" else "f"}_$metric").toString
      buildPinned(path, codes, metric, p)
      for (hier <- Seq(Flat, Hier))
        assert(surfaces(path, codes, hier, tableFixture._1) ===
          TablePins((codes, hier, metric)),
          s"codes=$codes hier=$hier metric=$metric")
    }
  }

  test("pins: appendSegment then search, per node space") {
    val dir = java.nio.file.Files.createTempDirectory("graft-walkappend")
    val p = Hnsw.Params(m = 4, efC = 12, partitions = 3)
    val (corpus, _, qs, extra) = tableFixture
    for (codes <- Seq(Floats, Codes)) {
      val path = dir.resolve(if (codes) "q" else "f").toString
      buildPinned(path, codes, Knn.L2, p)
      Hnsw.appendSegment(extra, "vec", "id", path, p)
      val (single, join, stats) = surfaces(path, codes, Flat,
        corpus.union(extra))
      val hierSingle = fold(qs.iterator.flatMap { q =>
        if (codes) Hnsw.searchQuantizedCoarse(graft.SparkT.spark, path, q, 5,
          ef = 5, refine = 2, hier = true, hierMin = 0)._1.iterator
          .map(id => (0.0, id))
        else Hnsw.searchRoutedRaw(graft.SparkT.spark, path, q, 5, ef = 5,
          hier = true, hierMin = 0)._1.iterator.map(t => (t._2, t._1))
      })
      assert((single, hierSingle, join, stats) === AppendPins(codes),
        s"codes=$codes")
    }
  }

  // recorded by running the per-space functions of the tree before the
  // float and code walks were merged (searchRoutedRaw / searchRoutedHierRaw,
  // knnJoinRouted / knnJoinQuantized, walkStats / walkStatsHier /
  // walkStatsQuantized, appendSegment / appendSegmentQuantized); values are
  // (single search, batch join, walk counters)
  private val TablePins: Map[(Boolean, Boolean, Knn.Metric), (Long, Long, Long)] = Map(
    (Floats, Flat, Knn.L2) -> (1632136969256502567L, 2765087632999916878L, -8811808847856780379L),
    (Floats, Hier, Knn.L2) -> (-4867418500093401252L, -8399350867969920058L, -4629161062680609883L),
    (Floats, Flat, Knn.Cosine) -> (-4652700568897030002L, -8708595768711937839L, -3760524905592748251L),
    (Floats, Hier, Knn.Cosine) -> (-4652700568897030002L, -7891196638800515551L, 7423320344051746597L),
    (Floats, Flat, Knn.IP) -> (-1879997108689840987L, -6615236109792205311L, -6300073302340976603L),
    (Floats, Hier, Knn.IP) -> (2184466527728094148L, -2055916603742077919L, -2038542154941644763L),
    (Codes, Flat, Knn.L2) -> (6030030626695298745L, 7321725570995576195L, 2175707605532031909L),
    (Codes, Hier, Knn.L2) -> (3795590642216303771L, -8356206915931307143L, -5281901533672621147L),
    (Codes, Flat, Knn.Cosine) -> (-3924919458575142537L, -2809143896993469007L, 8892760459969726245L),
    (Codes, Hier, Knn.Cosine) -> (2587750071445867739L, 2969124600090014737L, 4089882563611625253L),
    (Codes, Flat, Knn.IP) -> (-8631243575609486221L, 3028260574821806161L, 124030091126325285L),
    (Codes, Hier, Knn.IP) -> (669659091171499521L, -5745310759138223039L, -1676213491170852827L)
  )

  // (flat single search, hierarchy single search, batch join, walk counters)
  private val AppendPins: Map[Boolean, (Long, Long, Long, Long)] = Map(
    Floats -> (5979514402743687134L, 662005042716705781L, -6150336279800484078L, 8497375959948393009L),
    Codes -> (-6742409126340526125L, -8976849110819521099L, -5833512685593803671L, 8077274557207738929L)
  )

  // recorded from the earlier PriorityQueue/ArrayBuffer walk; walk pins
  // are (fingerprint, nodes expanded, distances scored) over the 12
  // golden queries
  private val GoldenBuildAdj = -8886979506102370087L
  private val GoldenTopFirst = Seq(372, 375, 199, 377, 151, 185, 391, 294)
  private val GoldenFlat = (6963779596025189573L, 156L, 704L)
  private val GoldenFlatAllowed = (7398929152713807853L, 145L, 661L)
  private val GoldenFlatEntry = (-168775103977840988L, 114L, 533L)
  private val GoldenRehydratedAdj = -3532049992667951207L
  private val GoldenRehydrated = (6963779596025189573L, 156L, 704L)
  private val GoldenEntries =
    Seq(185, 101, 274, 31, 91, 91, 252, 165, 209, 312, 252, 314)
  private val GoldenHier = (-6040807652351428440L, 87L, 406L)
}
