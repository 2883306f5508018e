package graft.vector

import graft.SparkT
import org.apache.spark.GraftTestBlocks
import org.scalatest.funsuite.AnyFunSuite

/** What a clustered graph index leaves live in the session: a rebuild as
  * the other node space drops the old resident graph, layers and
  * sidecars, and routed walks free their query broadcasts. */
class HnswLifecycleSpec extends AnyFunSuite {

  private lazy val corpus = {
    val spark = SparkT.spark
    import spark.implicits._
    val rnd = new java.util.Random(5L)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 10f))
    (0 until 400).map { i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextFloat()))
    }.toDF("id", "vec")
  }
  private val q = Array.tabulate(8)(i => (i % 5).toFloat)
  private val p = Hnsw.Params(m = 4, efC = 16, partitions = 4)
  private val FullEf = 1 << 20

  private def exact: Seq[(Long, Double)] = {
    val spark = SparkT.spark
    import spark.implicits._
    Knn.knn(corpus, "vec", "id", q, 5).select("id", "dist")
      .as[(Long, Double)].collect().toSeq
  }

  private def exists(path: String): Boolean = new java.io.File(path).exists()

  test("rebuilding a path as the other node space leaves nothing of the old index live") {
    val spark = SparkT.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val path = java.nio.file.Files.createTempDirectory("graft-respace")
      .resolve("g").toString
    def quantized = Hnsw.searchQuantized(spark, path, corpus, "vec", "id", q,
      5, FullEf)._1.select("id", "dist").as[(Long, Double)].collect().toSeq
    val before = sc.getPersistentRDDs.keySet

    Hnsw.buildIndexClusteredQuantized(corpus, "vec", "id", path, p)
    Hnsw.buildHierarchy(spark, path, p)
    Hnsw.searchQuantizedCoarse(spark, path, q, 5, FullEf, hier = true,
      hierMin = 0)
    assert(quantized === exact)
    val codeRdds = sc.getPersistentRDDs.keySet -- before
    assert(codeRdds.size === 2, "resident code graph and layers")

    Hnsw.buildIndexClustered(corpus, "vec", "id", path, p)
    assert((sc.getPersistentRDDs.keySet & codeRdds).isEmpty,
      "the old code graph stayed persisted")
    Seq(Hnsw.qmodelPath(path), Hnsw.qerrPath(path), Hnsw.layersPath(path))
      .foreach(s => assert(!exists(s), s"stale sidecar $s"))
    // the path now serves the float graph, through either entry point
    assert(Hnsw.searchRouted(spark, path, "id", q, 5, FullEf)._1
      .as[(Long, Double)].collect().toSeq === exact)
    assert(quantized === exact)

    val floatRdds = sc.getPersistentRDDs.keySet -- before
    assert(floatRdds.size === 1, "resident float graph")
    Hnsw.buildIndexClusteredQuantized(corpus, "vec", "id", path, p)
    assert((sc.getPersistentRDDs.keySet & floatRdds).isEmpty,
      "the old float graph stayed persisted")
    val e = intercept[IllegalArgumentException](
      Hnsw.searchRouted(spark, path, "id", q, 5, FullEf))
    assert(e.getMessage.contains("searchQuantized"), e.getMessage)
    assert(quantized === exact)
    Hnsw.invalidate(path)
  }

  test("routed walks of both node spaces destroy their query broadcasts") {
    val spark = SparkT.spark
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bcast")
    val g = dir.resolve("g").toString
    val qg = dir.resolve("qg").toString
    Hnsw.buildIndexClustered(corpus, "vec", "id", g, p)
    Hnsw.buildIndexClusteredQuantized(corpus, "vec", "id", qg, p)
    def searches(): Unit = {
      Hnsw.searchRoutedRaw(spark, g, q, 5, 8)
      Hnsw.searchQuantizedCoarse(spark, qg, q, 5, 8)
    }
    searches() // loads both resident graphs
    val live0 = GraftTestBlocks.liveBroadcasts(sc)
    // checked after every round, before a GC could let the ContextCleaner
    // hide a leak; destroy() is asynchronous, so allow the block manager a
    // moment
    def grown(): Set[Long] = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var live = GraftTestBlocks.liveBroadcasts(sc) -- live0
      while (live.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        live = GraftTestBlocks.liveBroadcasts(sc) -- live0
      }
      live
    }
    (1 to 20).foreach { round =>
      searches()
      Hnsw.walkStats(spark, g, q, 5, 8)
      Hnsw.walkStats(spark, qg, q, 5, 8)
      val left = grown()
      assert(left.isEmpty, s"round $round left ${left.size} query broadcasts live")
    }
    Hnsw.invalidate(g)
    Hnsw.invalidate(qg)
  }
}
