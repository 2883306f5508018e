package graft.vector

import graft.SparkT
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Partitioned NSW graph index (SURVEY M4, ref hnswlib knn/knn.cpp:221,
  * 455-537): exact at ef >= sub-graph size (connectivity via chain edges),
  * high recall at small ef on clustered data. */
class HnswSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = graft.engine.Graft.table(SparkT.spark, sfDir, "embeddings")

  private def queryVec: Array[Float] =
    emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray

  test("ef >= sub-graph size is exact: equals the fullscan top-k (tiny m too)") {
    val d = Files.createTempDirectory("graft-hnsw").resolve("g").toString
    // m=2 stresses connectivity: pruning is aggressive, so exactness here
    // proves the chain edges really keep every sub-graph connected.
    Hnsw.buildIndex(emb, "embedding", "vec_id", d, Hnsw.Params(m = 2, efC = 8))
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10)
      .select("vec_id").as[Long].collect().toSeq
    val graph = Hnsw.search(SparkT.spark, d, "vec_id", queryVec, 10, ef = 1 << 20)
      .select("vec_id").as[Long].collect().toSeq
    assert(graph === exact)
  }

  test("deleteFromClustered: stale caught, committed rebuild exact, hierarchy survives (r20)") {
    val d = Files.createTempDirectory("graft-hnswdel").resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 32, partitions = 4)
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val pred = $"vec_id" % 5 === 2
    val kept = emb.filter(!pred)
    // fact rewritten, index untouched: reconciliation flags extra graph ids
    val stale = VectorIndexCheck.checkGraph(SparkT.spark, d,
      fact = Some((kept, "vec_id")))
    assert(!stale.ok, "stale graph passed reconciliation")
    // maintain: the manifest-committed generation rebuild
    Hnsw.deleteFromClustered(SparkT.spark, d,
      emb.filter(pred).select($"vec_id"), "vec_id", p)
    assert(graft.index.Commit.manifestVersions(
      new org.apache.hadoop.fs.Path(d).getFileSystem(
        SparkT.spark.sparkContext.hadoopConfiguration), d).nonEmpty,
      "delete did not commit a generation")
    val after = VectorIndexCheck.checkGraph(SparkT.spark, d,
      fact = Some((kept, "vec_id")))
    assert(after.ok, after.issues.mkString("; "))
    // routed search serves exactly the survivors' top-k ...
    val exact = Knn.knn(kept, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (routed, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec,
      10, ef = 1 << 20)
    assert(routed.as[(Long, Double)].collect().toSeq === exact)
    // ... and the hierarchy sidecar rebuilt INSIDE the committed
    // generation (the compactClustered survival contract): the descent
    // runs and stays exact
    val d0 = Hnsw.descents.get()
    val (hier, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      queryVec, 10, ef = 1 << 20, hierMin = 0, hier = true)
    assert(hier.as[(Long, Double)].collect().toSeq === exact)
    assert(Hnsw.descents.get() > d0, "post-delete hier walk never descended")
  }

  test("recall@10 >= 0.95 at small ef on clustered vectors") {
    val rnd = new scala.util.Random(13)
    val dim = 32
    // 30 clusters x 20 members — the data shape a graph index navigates well
    val rows = for {
      c <- 0 until 30
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 3)
      i <- 0 until 20
    } yield ((c * 20 + i).toLong,
      center.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnsw2").resolve("g").toString
    Hnsw.buildIndex(df, "embedding", "vec_id", d, Hnsw.Params(m = 8, efC = 64))

    val queries = Seq(3L, 117L, 284L, 451L, 599L)
    val recalls = queries.map { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10)
        .select("vec_id").as[Long].collect().toSet
      val got = Hnsw.search(SparkT.spark, d, "vec_id", q, 10, ef = 32)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("batch knn join over the routed graph: exact at full probes, clustered economy at probes=1") {
    val rnd = new scala.util.Random(31)
    val dim = 16
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 4)
      i <- 0 until 30
    } yield ((c * 30 + i).toLong,
      center.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val corpus = df.filter($"vec_id" >= 10)
    val queriesDf = df.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val d = Files.createTempDirectory("graft-hnswj").resolve("g").toString
    Hnsw.buildIndexClustered(corpus, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8))
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val got = Hnsw.knnJoinRouted(SparkT.spark, d, queriesDf,
        "query_id", "embedding", "corpus_id", k = 5, ef = 1 << 20)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact)
    // probes=2 on tightly clustered data: each query's true neighbors
    // live in its cluster's sub-graph(s) (k-means may split a cluster, so
    // 2 probes, and recall — not equality — is the contract here)
    val two = Hnsw.knnJoinRouted(SparkT.spark, d, queriesDf,
        "query_id", "embedding", "corpus_id", k = 5, ef = 1 << 20,
        probes = 2)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val recall = two.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"probes=2 recall $recall")

    // walk telemetry on the same index: one stats row per sub-graph,
    // expansion bounded by the sub-graph and < full scan at small ef
    val q0 = rows(0)._2
    val stats = Hnsw.walkStats(SparkT.spark, d, q0, k = 5, ef = 16)
    assert(stats.length === 8)
    assert(stats.map(_._2).sum === corpus.count())
    stats.foreach { case (_, n, expanded, scored) =>
      assert(expanded >= 1L && expanded <= n.toLong)
      assert(scored >= expanded - 1) // every hop past the entry was scored
    }
    // at small ef the beam terminates early on clustered data: the total
    // expansion is well under the corpus size (the hierarchy question is
    // BenchScale's job; this pins the counters are live and sane)
    assert(stats.map(_._3).sum < corpus.count(),
      s"ef=16 walk expanded everything: ${stats.toSeq}")
  }

  test("batch knn join over the QUANTIZED graph: exact at full probes, clustered economy at probes=2 (r15)") {
    val rnd = new scala.util.Random(41)
    val dim = 16
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 4)
      i <- 0 until 30
    } yield ((c * 30 + i).toLong,
      center.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val corpus = df.filter($"vec_id" >= 10)
    val queriesDf = df.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val d = Files.createTempDirectory("graft-hnswqj").resolve("g").toString
    Hnsw.buildIndexClusteredQuantized(corpus, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8))
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val got = Hnsw.knnJoinQuantized(SparkT.spark, d, corpus, "vec_id",
        "embedding", queriesDf, "query_id", "embedding", "corpus_id",
        k = 5, ef = 1 << 20)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact)
    val two = Hnsw.knnJoinQuantized(SparkT.spark, d, corpus, "vec_id",
        "embedding", queriesDf, "query_id", "embedding", "corpus_id",
        k = 5, ef = 1 << 20, probes = 2)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val recall = two.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"probes=2 recall $recall")
  }

  test("quantized-space graph: exact at full ef, prunes sub-graphs, codes not floats resident") {
    val rnd = new scala.util.Random(29)
    val dim = 32
    val rows = for {
      c <- 0 until 16
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 3)
      i <- 0 until 25
    } yield ((c * 25 + i).toLong,
      center.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswq").resolve("g").toString
    Hnsw.buildIndexClusteredQuantized(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8))
    // resident payload is the int8 code — dim BYTES per vector vs 4·dim
    // for floats (the 4× graph-memory economics), plus no float column
    val schema = SparkT.spark.read.parquet(d).schema
    assert(schema("qcode").dataType ===
      org.apache.spark.sql.types.BinaryType)
    assert(!schema.fieldNames.contains("vec"))
    val oneCode = SparkT.spark.read.parquet(d)
      .select("qcode").as[Array[Byte]].head()
    assert(oneCode.length === dim)
    // exact at full ef (k·refine coarse contract + error-slack routing)
    var probedTot = 0
    val w0 = Hnsw.walkedSubgraphs.get()
    Seq(3L, 117L, 284L, 351L).foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, probed) = Hnsw.searchQuantized(SparkT.spark, d, df,
        "embedding", "vec_id", q, 10, ef = 1 << 20)
      val got = res.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      assert(got === exact, s"query $qid")
      probedTot += probed
    }
    // clustered data: the error-slack triangle bound still prunes, in
    // the sub-graphs the walk jobs walk as in the ones the schedule probes
    val walkedTot = Hnsw.walkedSubgraphs.get() - w0
    assert(probedTot < 4 * 8, s"no pruning happened: $probedTot probes")
    assert(walkedTot < 4 * 8, s"no pruning happened: $walkedTot walked")
    // small-ef walk in code space still navigates (recall, not exactness)
    val q = rows(3)._2
    val exactIds = Knn.knn(df, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val (res32, _) = Hnsw.searchQuantized(SparkT.spark, d, df,
      "embedding", "vec_id", q, 10, ef = 32)
    val got32 = res32.select("vec_id").as[Long].collect().toSet
    assert(exactIds.intersect(got32).size >= 9,
      s"code-space recall@10 ${exactIds.intersect(got32).size}/10")
  }

  test("quantized graph appendSegment: exact mid-segment, observed-error slack recorded (I9 r15)") {
    val rnd = new scala.util.Random(37)
    val dim = 16
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 3)
      i <- 0 until 30
    } yield ((c * 30 + i).toLong,
      center.map(x => x + 0.2f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val build = df.filter($"vec_id" % 10 =!= 7)
    // the appended batch DRIFTS: scaled 1.3x, so many values clamp outside
    // the 90%-trained box — exactly the case the _qerr sidecar exists for
    val append = df.filter($"vec_id" % 10 === 7)
      .select($"vec_id", org.apache.spark.sql.functions.transform($"embedding",
        x => (x * org.apache.spark.sql.functions.lit(1.3f)).cast("float"))
        .as("embedding"))
    val whole = build.unionByName(append)
    val d = Files.createTempDirectory("graft-hnswq-seg").resolve("g").toString
    val (_, qm) = Hnsw.buildIndexClusteredQuantized(build, "embedding",
      "vec_id", d, Hnsw.Params(m = 8, efC = 64, partitions = 4))
    Hnsw.appendSegment(append, "embedding", "vec_id", d)
    // the observed slack is on record and exceeds what the model bound
    // alone would claim for the drifted batch
    val qerr = SparkT.spark.read.parquet(Hnsw.qerrPath(d))
      .as[Double].collect()
    assert(qerr.length === 1 && qerr.head > 0.0)
    // exact over the WHOLE corpus mid-segment at full ef (the drifted
    // vectors' reconstruction error is covered by the recorded slack)
    Seq(3L, 77L, 117L, 237L).foreach { qid =>
      val q = whole.filter($"vec_id" === qid)
        .select("embedding").as[Array[Float]].head()
      val exact = Knn.knn(whole, "embedding", "vec_id", q, 10)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, _) = Hnsw.searchQuantized(SparkT.spark, d, whole,
        "embedding", "vec_id", q, 10, ef = 1 << 20)
      val got = res.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      assert(got === exact, s"query $qid")
    }
    // the model bound alone must NOT be trusted post-append: the drifted
    // batch's clamped values reconstruct WORSE than the in-box worst case
    // — this is the invariant the _qerr sidecar exists for
    assert(qerr.head > qm.l2ErrorBound,
      s"observed ${qerr.head} should exceed model bound ${qm.l2ErrorBound}")

    // OPTIMIZE (compactQuantized): retrain on the current corpus into a
    // manifest-committed generation — the fresh box covers the drifted
    // vectors, the _qerr slack resets, search stays exact, and appends
    // land in the generation dirs
    Hnsw.compactQuantized(whole, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 4))
    val gen1 = new java.io.File(d + "__g1")
    assert(gen1.isDirectory &&
      new java.io.File(gen1, "graph").isDirectory &&
      new java.io.File(gen1, "qmodel").isDirectory)
    Seq(3L, 77L, 117L, 237L).foreach { qid =>
      val q = whole.filter($"vec_id" === qid)
        .select("embedding").as[Array[Float]].head()
      val exact = Knn.knn(whole, "embedding", "vec_id", q, 10)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, _) = Hnsw.searchQuantized(SparkT.spark, d, whole,
        "embedding", "vec_id", q, 10, ef = 1 << 20)
      assert(res.select("vec_id", "dist").as[(Long, Double)]
        .collect().toSeq === exact, s"post-compact query $qid")
    }
    // post-compact append goes into the GENERATION's dirs and stays exact
    val extra = Seq((9000L, Array.fill(dim)(0.5f)))
      .toDF("vec_id", "embedding")
    Hnsw.appendSegment(extra, "embedding", "vec_id", d)
    assert(new java.io.File(gen1, "qerr").isDirectory,
      "append must write the generation's qerr, not the superseded base")
    val all2 = whole.unionByName(extra)
    val q2 = Array.fill(dim)(0.4f)
    val exact2 = Knn.knn(all2, "embedding", "vec_id", q2, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res2, _) = Hnsw.searchQuantized(SparkT.spark, d, all2,
      "embedding", "vec_id", q2, 10, ef = 1 << 20)
    assert(res2.select("vec_id", "dist").as[(Long, Double)]
      .collect().toSeq === exact2)
  }

  test("quantized-space graph under COSINE: exact at full ef, small-ef recall") {
    // r14 VERDICT #3: codes/centroids/radii all in the unit-normalized
    // companion space; exact cosine rescore on raw floats at the end.
    val rnd = new scala.util.Random(31)
    val dim = 32
    val rows = for {
      c <- 0 until 16
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 3)
      i <- 0 until 25
    } yield ((c * 25 + i).toLong,
      center.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswqc").resolve("g").toString
    Hnsw.buildIndexClusteredQuantized(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8), Knn.Cosine)
    var probedTot = 0
    val w0 = Hnsw.walkedSubgraphs.get()
    Seq(3L, 117L, 284L, 351L).foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10, Knn.Cosine)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, probed) = Hnsw.searchQuantized(SparkT.spark, d, df,
        "embedding", "vec_id", q, 10, ef = 1 << 20)
      val got = res.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      assert(got === exact, s"query $qid")
      probedTot += probed
    }
    val walkedTot = Hnsw.walkedSubgraphs.get() - w0
    assert(probedTot < 4 * 8, s"no pruning happened: $probedTot probes")
    assert(walkedTot < 4 * 8, s"no pruning happened: $walkedTot walked")
    val q = rows(3)._2
    val exactIds = Knn.knn(df, "embedding", "vec_id", q, 10, Knn.Cosine)
      .select("vec_id").as[Long].collect().toSet
    val (res32, _) = Hnsw.searchQuantized(SparkT.spark, d, df,
      "embedding", "vec_id", q, 10, ef = 32)
    val got32 = res32.select("vec_id").as[Long].collect().toSet
    assert(exactIds.intersect(got32).size >= 9,
      s"normalized-code recall@10 ${exactIds.intersect(got32).size}/10")
  }

  test("cosine and inner-product metrics are exact at full ef too") {
    Seq(Knn.Cosine, Knn.IP).foreach { metric =>
      val d = Files.createTempDirectory(s"graft-hnsw-$metric").resolve("g").toString
      Hnsw.buildIndex(emb, "embedding", "vec_id", d,
        Hnsw.Params(m = 4, efC = 16), metric)
      val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10, metric)
        .select("vec_id").as[Long].collect().toSeq
      val graph = Hnsw.search(SparkT.spark, d, "vec_id", queryVec, 10,
        ef = 1 << 20, metric = metric)
        .select("vec_id").as[Long].collect().toSeq
      assert(graph === exact, s"metric $metric")
    }
  }

  test("filter callback: exact over the allowed subset, traversal crosses disallowed nodes (K3)") {
    val d = Files.createTempDirectory("graft-hnswf").resolve("g").toString
    // m=2 again: the walk MUST pass through disallowed nodes to reach
    // allowed ones — admitting-only-allowed must not disconnect anything
    Hnsw.buildIndex(emb, "embedding", "vec_id", d, Hnsw.Params(m = 2, efC = 8))
    val allowedIds = emb.filter($"label" === 3).select("vec_id")
      .as[Long].collect().toSet
    val exact = Knn.knn(emb.filter($"label" === 3), "embedding", "vec_id",
      queryVec, 10).select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val got = Hnsw.search(SparkT.spark, d, "vec_id", queryVec, 10,
        ef = 1 << 20, allowed = Some(allowedIds.contains))
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got === exact)
    // nothing allowed → empty result, no crash
    assert(Hnsw.search(SparkT.spark, d, "vec_id", queryVec, 10,
      ef = 1 << 20, allowed = Some(_ => false)).count() === 0)
  }

  test("routed search honors the filter callback and over-probes to k survivors (K3)") {
    val rnd = new scala.util.Random(19)
    val dim = 32
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 5)
      i <- 0 until 50
    } yield ((c * 50 + i).toLong,
      center.map(x => x + 0.2f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswrf").resolve("g").toString
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8))
    val q = rows(3)._2 // query in cluster 0
    // allow only ODD ids: about half of every cluster survives
    val allowed: Long => Boolean = _ % 2 == 1
    val exact = Knn.knn(df.filter($"vec_id" % 2 === 1), "embedding", "vec_id",
      q, 10).select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, probed) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", q, 10,
      ef = 1 << 20, allowed = Some(allowed))
    assert(res.as[(Long, Double)].collect().toSeq === exact)
    assert(probed < 8, s"probed $probed of 8 sub-graphs")
    // filter excluding EVERY member of the query's own sub-graph (as
    // actually built — k-means may co-locate clusters): the loop must
    // over-probe past the zero-survivor home sub-graph and still return
    // the exact filtered top-k
    val g = SparkT.spark.read.parquet(d)
    val homePid = g.filter($"id" === 3L).select("pid").as[Int].head()
    val homeIds = g.filter($"pid" === homePid).select("id")
      .as[Long].collect().toSet
    val far: Long => Boolean = id => !homeIds.contains(id)
    val exactFar = Knn.knn(df.filter(!$"vec_id".isin(homeIds.toSeq: _*)),
      "embedding", "vec_id", q, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (resFar, probedFar) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      q, 10, ef = 1 << 20, allowed = Some(far))
    assert(resFar.as[(Long, Double)].collect().toSeq === exactFar)
    assert(probedFar >= 2, s"must probe past the empty home sub-graph")
  }

  test("routed search is exact and schedules only a few sub-graphs (ADVICE r7)") {
    val rnd = new scala.util.Random(17)
    val dim = 32
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 5)
      i <- 0 until 50
    } yield ((c * 50 + i).toLong,
      center.map(x => x + 0.2f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswr").resolve("g").toString
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8))
    val queries = Seq(3L, 117L, 284L, 399L)
    var probedTotal = 0
    val w0 = Hnsw.walkedSubgraphs.get()
    queries.foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, probed) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        q, 10, ef = 1 << 20)
      assert(res.as[(Long, Double)].collect().toSeq === exact, s"query $qid")
      probedTotal += probed
    }
    // well-separated clusters: each query should resolve in 1-2 sub-graphs,
    // never all 8 — the routing economy the sidecar exists for
    assert(probedTotal < queries.size * 8,
      s"routing probed $probedTotal of ${queries.size * 8} sub-graphs")
    assert(probedTotal <= queries.size * 3, s"probed $probedTotal")
    // the walk jobs walk no sub-graph the schedule would not probe here
    val walkedTotal = Hnsw.walkedSubgraphs.get() - w0
    assert(walkedTotal <= queries.size * 3, s"walked $walkedTotal")
  }

  test("routed search under the COSINE metric is exact and prunes sub-graphs") {
    val rnd = new scala.util.Random(23)
    val dim = 32
    // directionally separated clusters (cosine cares about direction)
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 5)
      i <- 0 until 50
    } yield ((c * 50 + i).toLong,
      center.map(x => x + 0.2f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswrc").resolve("g").toString
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8), Knn.Cosine)
    var probedTotal = 0
    val w0 = Hnsw.walkedSubgraphs.get()
    Seq(7L, 152L, 333L).foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10, Knn.Cosine)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, probed) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        q, 10, ef = 1 << 20)
      assert(res.as[(Long, Double)].collect().toSeq === exact, s"query $qid")
      probedTotal += probed
    }
    assert(probedTotal <= 3 * 3, s"probed $probedTotal of 24 sub-graphs")
    val walkedTotal = Hnsw.walkedSubgraphs.get() - w0
    assert(walkedTotal <= 3 * 3, s"walked $walkedTotal of 24 sub-graphs")
  }

  test("routed search under the INNER-PRODUCT metric is exact, prunes, and returns exact 1-dot (r19)") {
    val rnd = new scala.util.Random(29)
    val dim = 32
    // clusters separated in direction AND scale: MIPS favors aligned
    // high-norm rows, and the augmented-space geometry must still prune
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * (2 + c))
      i <- 0 until 50
    } yield ((c * 50 + i).toLong,
      center.map(x => x + 0.2f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswrip").resolve("g").toString
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8), Knn.IP)
    var probedTotal = 0
    val w0 = Hnsw.walkedSubgraphs.get()
    Seq(7L, 152L, 333L).foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10, Knn.IP)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, probed) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        q, 10, ef = 1 << 20)
      val got = res.as[(Long, Double)].collect().toSeq
      assert(got === exact, s"query $qid")
      // metric identity: the walk's dist IS 1 - <q, v> on the raw floats
      val byId = rows.map(r => r._1 -> r._2).toMap
      got.foreach { case (id, dist) =>
        val v = byId(id)
        var dot = 0.0; var i = 0
        while (i < dim) { dot += q(i).toDouble * v(i); i += 1 }
        assert(math.abs(dist - (1.0 - dot)) < 1e-6, s"id $id dist $dist")
      }
      probedTotal += probed
    }
    // the ipLowerBound prune must engage on scale-separated clusters
    assert(probedTotal < 3 * 8,
      s"IP routing probed $probedTotal of 24 sub-graphs — no pruning")
    val walkedTotal = Hnsw.walkedSubgraphs.get() - w0
    assert(walkedTotal < 3 * 8,
      s"IP routing walked $walkedTotal of 24 sub-graphs — no pruning")
  }

  test("quantized-space graph under INNER PRODUCT: exact at full ef (r19)") {
    val rnd = new scala.util.Random(37)
    val dim = 32
    val rows = for {
      c <- 0 until 16
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * (2 + c % 5))
      i <- 0 until 25
    } yield ((c * 25 + i).toLong,
      center.map(x => x + 0.15f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswqip").resolve("g").toString
    Hnsw.buildIndexClusteredQuantized(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8), Knn.IP)
    Seq(3L, 117L, 284L, 351L).foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10, Knn.IP)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, _) = Hnsw.searchQuantized(SparkT.spark, d, df,
        "embedding", "vec_id", q, 10, ef = 1 << 20)
      assert(res.select("vec_id", "dist").as[(Long, Double)]
        .collect().toSeq === exact, s"query $qid")
    }
  }

  test("appendSegment under IP binds with the BUILD's stored M; a lost marker fails loudly (r19)") {
    val tmp = Files.createTempDirectory("graft-hnswsegip")
    val d = tmp.resolve("g").toString
    Hnsw.buildIndexClustered(emb.filter($"vec_id" % 10 =!= 7),
      "embedding", "vec_id", d, Hnsw.Params(m = 8, efC = 64, partitions = 4),
      Knn.IP)
    Hnsw.appendSegment(emb.filter($"vec_id" % 10 === 7),
      "embedding", "vec_id", d)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10, Knn.IP)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (mid, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec,
      10, ef = 1 << 20)
    assert(mid.as[(Long, Double)].collect().toSeq === exact)
    // every route row (original + appended segment) carries the SAME M —
    // a segment that re-estimated M would bind a different augmented space
    val norms = SparkT.spark.read.parquet(Hnsw.routePath(d))
      .select("max_norm").distinct().as[Double].collect()
    assert(norms.length === 1, s"mixed/missing M: ${norms.toSeq}")
    // marker loss: an ip sidecar without max_norm must refuse loudly
    // (the wrong-space contract), never default to a fresh M
    val stripped = SparkT.spark.read.parquet(Hnsw.routePath(d))
      .drop("max_norm").collect()
    val schema = SparkT.spark.read.parquet(Hnsw.routePath(d))
      .drop("max_norm").schema
    val d2 = tmp.resolve("g2").toString
    Hnsw.buildIndexClustered(emb.filter($"vec_id" % 10 =!= 7),
      "embedding", "vec_id", d2, Hnsw.Params(m = 8, efC = 64, partitions = 4),
      Knn.IP)
    // overwrite d2's sidecar with the M-less rows and drop the memo
    SparkT.spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(stripped: _*)), schema)
      .write.mode("overwrite").parquet(Hnsw.routePath(d2))
    Hnsw.invalidate(d2)
    val ex = intercept[IllegalArgumentException] {
      Hnsw.searchRouted(SparkT.spark, d2, "vec_id", queryVec, 10,
        ef = 1 << 20)
    }
    assert(ex.getMessage.contains("max_norm"), ex.getMessage)
    // an OVER-M batch must refuse loudly (r19 review): the clamped
    // augmented coordinate breaks the ‖v'‖ = M identity the routed
    // prune's exactness rests on — the recovery is a retraining compact
    val dim = emb.select(
      org.apache.spark.sql.functions.size($"embedding")).head.getInt(0)
    val big = Seq((999999L, Array.fill(dim)(1e3f)))
      .toDF("vec_id", "embedding")
    val ex2 = intercept[IllegalArgumentException] {
      Hnsw.appendSegment(big, "embedding", "vec_id", d)
    }
    assert(ex2.getMessage.contains("exceeds"), ex2.getMessage)
  }

  test("IP hierarchy walk: descent + beam exact at full ef (r19)") {
    val tmp = Files.createTempDirectory("graft-hnswhip")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d, p, Knn.IP)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10, Knn.IP)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      queryVec, 10, ef = 1 << 20, hierMin = 0, hier = true)
    assert(res.as[(Long, Double)].collect().toSeq === exact)
  }

  test("appendSegment: routed search exact mid-segment; compactClustered swaps generations with one-cycle retention (I9 r11)") {
    val tmp = Files.createTempDirectory("graft-hnswseg")
    val d = tmp.resolve("g").toString
    val build = emb.filter($"vec_id" % 10 =!= 7)
    val later = emb.filter($"vec_id" % 10 === 7)
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(build, "embedding", "vec_id", d, p)
    Hnsw.appendSegment(later, "embedding", "vec_id", d)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    // mid-segment: appended sub-graphs (new pids, re-used centroids) union
    // through the same triangle-bounded schedule — exact at full ef
    val (mid, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec,
      10, ef = 1 << 20)
    assert(mid.as[(Long, Double)].collect().toSeq === exact)
    // sidecar grew past the original partition count (segment pids)
    assert(SparkT.spark.read.parquet(Hnsw.resolveDirs(SparkT.spark, d)._2)
      .count() > p.partitions)
    // OPTIMIZE: re-cluster into generation 1, manifest-committed
    Hnsw.compactClustered(SparkT.spark, d, p)
    assert(Hnsw.resolveDirs(SparkT.spark, d)._1.endsWith("__g1/graph"))
    val (post, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec,
      10, ef = 1 << 20)
    // append ≡ fresh build post-compact: same corpus, canonical layout
    assert(post.as[(Long, Double)].collect().toSeq === exact)
    // canonical again: back to exactly `partitions` sub-graphs
    assert(SparkT.spark.read.parquet(Hnsw.resolveDirs(SparkT.spark, d)._2)
      .count() === p.partitions)
    // one-cycle retention: the legacy pair survives this commit, marked
    // superseded so a manifest-dir loss fails loudly instead of serving it
    assert(new java.io.File(d).isDirectory)
    assert(new java.io.File(d,
      graft.index.Commit.SupersededMarker).isFile)
    // a rebuild at the base path is refused now — the manifest is the truth
    intercept[IllegalArgumentException] {
      Hnsw.buildIndexClustered(build, "embedding", "vec_id", d, p)
    }
    // second compact: sweeps the legacy pair, retains __g1, serves __g2
    Hnsw.compactClustered(SparkT.spark, d, p)
    assert(!new java.io.File(d).exists)
    assert(new java.io.File(d + "__g1").isDirectory)
    assert(Hnsw.resolveDirs(SparkT.spark, d)._1.endsWith("__g2/graph"))
    val (post2, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec,
      10, ef = 1 << 20)
    assert(post2.as[(Long, Double)].collect().toSeq === exact)
  }

  test("appendSegment under the COSINE metric bounds in the normalized space (I9 r11)") {
    val tmp = Files.createTempDirectory("graft-hnswsegc")
    val d = tmp.resolve("g").toString
    Hnsw.buildIndexClustered(emb.filter($"vec_id" % 10 =!= 7),
      "embedding", "vec_id", d, Hnsw.Params(m = 8, efC = 64, partitions = 4),
      Knn.Cosine)
    Hnsw.appendSegment(emb.filter($"vec_id" % 10 === 7),
      "embedding", "vec_id", d)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10, Knn.Cosine)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (mid, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec,
      10, ef = 1 << 20)
    assert(mid.as[(Long, Double)].collect().toSeq === exact)
  }

  test("probe schedule: at most two walk jobs, rows equal the exhaustive walk's at full ef (r11)") {
    // UNIFORM vectors: every sub-graph's radius overlaps the query, so the
    // schedule must probe all 8 — one round per doubling (1+2+4+1) would
    // be 4 jobs; the nearest sub-graph's walk, then one job over every
    // sub-graph its kth cannot prune, is 2
    val rnd = new scala.util.Random(29)
    val dim = 16
    val rows = (0L until 400L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat())))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswbatch").resolve("g").toString
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 8))
    val q = rows(3)._2
    val sc = SparkT.spark.sparkContext
    // warm the resident graph + route sidecar outside the measurement
    Hnsw.searchRoutedRaw(SparkT.spark, d, q, 5, ef = 1 << 20)
    // the status tracker is fed by the async listener bus: poll to stability
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      var last = -1
      var cur = sc.statusTracker.getJobIdsForGroup(group).length
      var spins = 0
      while (cur != last && spins < 50) {
        Thread.sleep(100); last = cur; spins += 1
        cur = sc.statusTracker.getJobIdsForGroup(group).length
      }
      cur
    }
    var routed: (Array[(Long, Double, Array[Float])], Int) = null
    val r0 = Hnsw.probeRounds.get()
    val w0 = Hnsw.walkedSubgraphs.get()
    val jobs = jobsOf("graft-probe-schedule") {
      routed = Hnsw.searchRoutedRaw(SparkT.spark, d, q, 5, ef = 1 << 20)
    }
    assert(routed._2 === 8, "uniform corpus must probe every sub-graph")
    assert(Hnsw.walkedSubgraphs.get() - w0 === 8, "each walked once")
    assert(jobs === 2 && Hnsw.probeRounds.get() - r0 === 2,
      s"$jobs jobs, ${Hnsw.probeRounds.get() - r0} walk jobs")
    val exhaustive = Hnsw.search(SparkT.spark, d, "vec_id", q, 5,
      ef = 1 << 20).as[(Long, Double)].collect().toSeq
    assert(routed._1.map(t => (t._1, t._2)).toSeq === exhaustive)
  }

  test("search result keeps the (dist asc, id asc) contract") {
    val d = Files.createTempDirectory("graft-hnsw3").resolve("g").toString
    Hnsw.buildIndex(emb, "embedding", "vec_id", d)
    val rows = Hnsw.search(SparkT.spark, d, "vec_id", queryVec, 10, ef = 1 << 20)
      .collect().map(r => (r.getDouble(1), r.getLong(0)))
    assert(rows.sameElements(rows.sorted))
    assert(rows.length === 10)
  }

  test("level draw is deterministic and geometric: P(level>=1) ~ 1/m (r15 hierarchy)") {
    val m = 8
    // pure function of (id, m): two draws agree
    assert((0L until 100L).forall(i =>
      Hnsw.nodeLevel(i, m) === Hnsw.nodeLevel(i, m)))
    val n = 20000
    val l1 = (0 until n).count(i => Hnsw.nodeLevel(i.toLong, m) >= 1)
    val l2 = (0 until n).count(i => Hnsw.nodeLevel(i.toLong, m) >= 2)
    // expectation n/m = 2500 and n/m² = 312.5; 20% tolerance
    assert(math.abs(l1 - n / m) < n / m / 5, s"level>=1 count $l1")
    assert(math.abs(l2 - n / m / m) < n / m / m / 2, s"level>=2 count $l2")
  }

  test("hierarchy: exact at full ef, high recall at small ef, layer sizes geometric (r15)") {
    // force the descent: these sub-graphs sit below the hierMinRows
    // auto-engage threshold, and this test measures the descent itself
    SparkT.spark.conf.set("spark.graft.graph.hierMinRows", "0")
    try hierBody()
    finally SparkT.spark.conf.unset("spark.graft.graph.hierMinRows")
  }

  private def hierBody(): Unit = {
    val rnd = new scala.util.Random(29)
    val dim = 32
    val rows = for {
      c <- 0 until 8
      center = Array.fill(dim)(rnd.nextGaussian().toFloat * 5)
      i <- 0 until 120
    } yield ((c * 120 + i).toLong,
      center.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
    val df = rows.toDF("vec_id", "embedding")
    val d = Files.createTempDirectory("graft-hnswh").resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    // geometric layer sizes: level 1 ~ n/m of the corpus, within 2x slack
    val layers = SparkT.spark.read.parquet(Hnsw.layersPath(d))
    val l1 = layers.filter($"level" === 1).count()
    assert(l1 > rows.size / 8 / 2 && l1 < rows.size / 8 * 2,
      s"level-1 size $l1 for ${rows.size} nodes")
    // exact at full ef: entry choice cannot change an exhaustive walk
    Seq(3L, 250L, 601L, 905L).foreach { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      val (res, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        q, 10, ef = 1 << 20, hier = true)
      assert(res.as[(Long, Double)].collect().toSeq === exact, s"query $qid")
    }
    // small-ef recall through the descent entry
    val recalls = Seq(3L, 250L, 601L, 905L).map { qid =>
      val q = rows(qid.toInt)._2
      val exact = Knn.knn(df, "embedding", "vec_id", q, 10)
        .select("vec_id").as[Long].collect().toSet
      val (res, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        q, 10, ef = 32, hier = true)
      val got = res.select("vec_id").as[Long].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.95, s"mean hier recall@10 $mean ($recalls)")
    // telemetry: the hier walk's total work stays in the flat walk's
    // ballpark at these sub-graph sizes (the descent buys entry quality,
    // not raw-count savings, until sub-graphs grow much larger)
    val q = rows(3)._2
    val flat = Hnsw.walkStats(SparkT.spark, d, q, 10, 32)
    val hier = Hnsw.walkStats(SparkT.spark, d, q, 10, 32, hier = true)
    val flatScored = flat.map(_._4).sum
    val hierScored = hier.map(_._4).sum
    assert(hierScored <= flatScored * 2,
      s"hier scored $hierScored vs flat $flatScored")
    // an in-place rebuild sweeps the now-stale sidecar: hier search fails
    // loudly instead of descending the OLD build's layers (review r15-4)
    Hnsw.buildIndexClustered(df, "embedding", "vec_id", d, p)
    assert(!Hnsw.hasHierarchy(SparkT.spark, d))
    intercept[IllegalArgumentException] {
      Hnsw.searchRouted(SparkT.spark, d, "vec_id", q, 10, ef = 1 << 20, hier = true)
    }
  }

  test("hierarchy build is deterministic: two builds over the same graph are row-identical (r15)") {
    // the rebuild-stability claim behind the id-hash level draw: levels,
    // layer membership AND layer adjacency are pure functions of the
    // graph content, so a re-run (e.g. after a compact) reproduces the
    // sidecar exactly
    val tmp = Files.createTempDirectory("graft-hnswdet")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val first = SparkT.spark.read.parquet(Hnsw.layersPath(d))
      .select($"pid", $"level", $"id", $"neighbors")
      .as[(Int, Int, Long, Seq[Long])].collect().toSet
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val second = SparkT.spark.read.parquet(Hnsw.layersPath(d))
      .select($"pid", $"level", $"id", $"neighbors")
      .as[(Int, Int, Long, Seq[Long])].collect().toSet
    assert(first === second)
    assert(first.nonEmpty)
  }

  test("QUANTIZED hierarchy: code-space layers, exact at full ef, loud without sidecar (r15)") {
    val tmp = Files.createTempDirectory("graft-hnswqh")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClusteredQuantized(emb, "embedding", "vec_id", d, p)
    // no sidecar yet: the hier walk fails loudly, flat stays fine
    val e = intercept[IllegalArgumentException] {
      Hnsw.searchQuantized(SparkT.spark, d, emb, "embedding", "vec_id",
        queryVec, 10, ef = 1 << 20, hier = true)._1.collect()
    }
    assert(e.getMessage.contains("buildHierarchy"))
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, _) = Hnsw.searchQuantized(SparkT.spark, d, emb,
      "embedding", "vec_id", queryVec, 10, ef = 1 << 20, hier = true)
    assert(res.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      === exact)
    // the layer rows reference only real node ids, and levels start at 1
    val layers = SparkT.spark.read.parquet(Hnsw.layersPath(d))
    assert(layers.filter($"level" < 1).count() === 0)
    val nodeIds = SparkT.spark.read
      .parquet(Hnsw.resolveDirs(SparkT.spark, d)._1)
      .select("id").as[Long].collect().toSet
    assert(layers.select("id").as[Long].collect().forall(nodeIds))
  }

  test("hierarchy under cosine + appended-pid fallback + compact staleness (r15)") {
    val tmp = Files.createTempDirectory("graft-hnswhc")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    val build = emb.filter($"vec_id" % 10 =!= 7)
    Hnsw.buildIndexClustered(build, "embedding", "vec_id", d, p, Knn.Cosine)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val exactB = Knn.knn(build, "embedding", "vec_id", queryVec, 10, Knn.Cosine)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      queryVec, 10, ef = 1 << 20, hier = true)
    assert(res.as[(Long, Double)].collect().toSeq === exactB)
    // append a segment: the HIERARCHY FOLLOWS INGEST (r16) — the new pids
    // get their own layer rows in the same append, so the descent covers
    // fresh segments too; full-ef stays exact
    val pidsBefore = SparkT.spark.read.parquet(Hnsw.layersPath(d))
      .select("pid").distinct().as[Int].collect().toSet
    Hnsw.appendSegment(emb.filter($"vec_id" % 10 === 7),
      "embedding", "vec_id", d)
    val pidsAfter = SparkT.spark.read.parquet(Hnsw.layersPath(d))
      .select("pid").distinct().as[Int].collect().toSet
    assert(pidsAfter.size > pidsBefore.size,
      s"segment append did not extend the layers sidecar ($pidsBefore)")
    val exactAll = Knn.knn(emb, "embedding", "vec_id", queryVec, 10, Knn.Cosine)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (mid, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      queryVec, 10, ef = 1 << 20, hier = true)
    assert(mid.as[(Long, Double)].collect().toSeq === exactAll)
    // compact: the hierarchy registration SURVIVES OPTIMIZE (r15 VERDICT
    // #7) — the layers rebuild over the new graph inside the same
    // generation commit, so hier search is green immediately, no manual
    // buildHierarchy step
    Hnsw.compactClustered(SparkT.spark, d, p)
    assert(Hnsw.hasHierarchy(SparkT.spark, d))
    val (post, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      queryVec, 10, ef = 1 << 20, hier = true)
    assert(post.as[(Long, Double)].collect().toSeq === exactAll)
    // and the swept legacy sidecar is gone (commitGeneration bookkeeping)
    assert(Hnsw.resolveDirs(SparkT.spark, d)._1.endsWith("__g1/graph"))
  }

  test("compaction without a hierarchy stays hierarchy-less (fails loudly on hier search) (r16)") {
    val tmp = Files.createTempDirectory("graft-hnswnc")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d, p)
    Hnsw.compactClustered(SparkT.spark, d, p)
    assert(!Hnsw.hasHierarchy(SparkT.spark, d))
    val e = intercept[IllegalArgumentException] {
      Hnsw.searchRouted(SparkT.spark, d, "vec_id", queryVec, 10,
        ef = 1 << 20, hier = true)
    }
    assert(e.getMessage.contains("buildHierarchy"))
  }

  test("QUANTIZED hierarchy survives compactQuantized: green immediately post-compact (r16)") {
    val tmp = Files.createTempDirectory("graft-hnswqc")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClusteredQuantized(emb, "embedding", "vec_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    // compact retrains the model and rebuilds the code-space layers inside
    // the committed generation — NO manual buildHierarchy step
    Hnsw.compactQuantized(emb, "embedding", "vec_id", d, p)
    assert(Hnsw.hasHierarchy(SparkT.spark, d))
    assert(Hnsw.resolveDirs(SparkT.spark, d)._1.endsWith("__g1/graph"))
    val (res, _) = Hnsw.searchQuantized(SparkT.spark, d, emb,
      "embedding", "vec_id", queryVec, 10, ef = 1 << 20, hier = true)
    assert(res.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      === exact)
    // and the hierarchy FOLLOWS a quantized segment append too (r16):
    // fresh ids (shifted copies), new pids get code-space layer rows
    val layersDir = Hnsw.sidecarDir(SparkT.spark, d, "layers")
    val pidsBefore = SparkT.spark.read.parquet(layersDir)
      .select("pid").distinct().count()
    val seg = emb.filter($"vec_id" % 5 === 0)
      .withColumn("vec_id", $"vec_id" + 100000L)
    Hnsw.appendSegment(seg, "embedding", "vec_id", d, p)
    assert(SparkT.spark.read.parquet(layersDir)
      .select("pid").distinct().count() > pidsBefore,
      "quantized segment append did not extend the layers sidecar")
    val all = emb.unionByName(seg)
    val exactAll = Knn.knn(all, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res2, _) = Hnsw.searchQuantized(SparkT.spark, d, all,
      "embedding", "vec_id", queryVec, 10, ef = 1 << 20, hier = true)
    assert(res2.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      === exactAll)
  }

  test("hierMinRows auto-gate: small sub-graphs skip the descent, forcing engages it, results identical (r16)") {
    val tmp = Files.createTempDirectory("graft-hnswgate")
    val d = tmp.resolve("g").toString
    val p = Hnsw.Params(m = 8, efC = 64, partitions = 4)
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d, p)
    Hnsw.buildHierarchy(SparkT.spark, d, p)
    val exact = Knn.knn(emb, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    // default threshold (24576, the measured r17 crossover midpoint) >>
    // fixture sub-graphs: the hier API walks
    // flat entries — NO descent — and stays exact
    val d0 = Hnsw.descents.get()
    val (skip, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
      queryVec, 10, ef = 1 << 20, hier = true)
    assert(skip.as[(Long, Double)].collect().toSeq === exact)
    assert(Hnsw.descents.get() === d0,
      "descent ran below the hierMinRows threshold")
    // forcing (conf 0) engages the descent on the same index, same rows
    SparkT.spark.conf.set("spark.graft.graph.hierMinRows", "0")
    try {
      val (forced, _) = Hnsw.searchRouted(SparkT.spark, d, "vec_id",
        queryVec, 10, ef = 1 << 20, hier = true)
      assert(forced.as[(Long, Double)].collect().toSeq === exact)
      assert(Hnsw.descents.get() > d0, "forced descent did not run")
    } finally SparkT.spark.conf.unset("spark.graft.graph.hierMinRows")
  }

  test("hierarchy build rejects m < 2 (ADVICE r16)") {
    val tmp = Files.createTempDirectory("graft-hnswm1")
    val d = tmp.resolve("g").toString
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d,
      Hnsw.Params(m = 2, efC = 8, partitions = 2))
    val e = intercept[IllegalArgumentException] {
      Hnsw.buildHierarchy(SparkT.spark, d, Hnsw.Params(m = 1))
    }
    assert(e.getMessage.contains("m >= 2"))
  }
}
