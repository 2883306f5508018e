package graft.vector

import graft.SparkT
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** IVF index: exactness at nprobe=nlist, recall/pruning at nprobe<nlist on
  * clustered data; grouped top-k Aggregator vs a window-function reference. */
class IvfTopKSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  // 8 well-separated clusters of 40 vectors each in 16 dims.
  private lazy val (df, queryVec) = {
    val rnd = new scala.util.Random(11)
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat * 5))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      m <- 0 until 40
    } yield ((ci * 40 + m).toLong,
      c.map(x => x + rnd.nextGaussian().toFloat * 0.3f))
    (rows.toDF("vec_id", "embedding"), rows.head._2)
  }

  test("IVF with nprobe=nlist returns exactly the fullscan top-k") {
    val m = Ivf.train(df, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivf").resolve("ix").toString
    Ivf.buildIndex(df, "embedding", m, dir)
    val exact = Knn.knn(df, "embedding", "vec_id", queryVec, 10)
      .select("vec_id").as[Long].collect().toSeq
    val viaIndex = Ivf.search(SparkT.spark, dir, m, "vec_id", "embedding",
      queryVec, 10, nprobe = 8).select("vec_id").as[Long].collect().toSeq
    assert(viaIndex === exact)
  }

  test("deleteFromIndex: stale index caught by reconciliation, committed generation exact after (r20)") {
    val m = Ivf.train(df, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivfdel").resolve("ix").toString
    Ivf.buildIndex(df, "embedding", m, dir)
    val pred = col("vec_id") % 5 === 2
    val kept = df.filter(!pred)
    // fact rewritten (rows deleted) while the index is untouched — the
    // checker's fact reconciliation flags the extra index ids
    val stale = VectorIndexCheck.checkIvf(SparkT.spark, dir, "embedding",
      "vec_id", m, fact = Some((kept, "vec_id")))
    assert(!stale.ok, "stale index passed reconciliation")
    assert(stale.issues.exists(_.contains("absent from the fact")),
      stale.issues)
    // maintain: the manifest-committed survivors-only rewrite
    Ivf.deleteFromIndex(SparkT.spark, dir, pred)
    assert(graft.index.Commit.resolve(SparkT.spark, dir)
      .contains("__g"), "delete did not commit a new generation")
    val after = VectorIndexCheck.checkIvf(SparkT.spark, dir, "embedding",
      "vec_id", m, fact = Some((kept, "vec_id")))
    assert(after.ok, after.issues.mkString("; "))
    // search serves exactly the survivors' top-k
    val exact = Knn.knn(kept, "embedding", "vec_id", queryVec, 10)
      .select("vec_id").as[Long].collect().toSeq
    val viaIndex = Ivf.search(SparkT.spark, dir, m, "vec_id", "embedding",
      queryVec, 10, nprobe = 8).select("vec_id").as[Long].collect().toSeq
    assert(viaIndex === exact)
    // a second delete commits the NEXT generation (the lifecycle composes)
    Ivf.deleteFromIndex(SparkT.spark, dir, col("vec_id") % 7 === 1)
    val kept2 = kept.filter(col("vec_id") % 7 =!= 1)
    val exact2 = Knn.knn(kept2, "embedding", "vec_id", queryVec, 10)
      .select("vec_id").as[Long].collect().toSeq
    val via2 = Ivf.search(SparkT.spark, dir, m, "vec_id", "embedding",
      queryVec, 10, nprobe = 8).select("vec_id").as[Long].collect().toSeq
    assert(via2 === exact2)
  }

  test("IVF knnJoin: exact at nprobe=nlist, high recall at nprobe=1 on clustered data") {
    val m = Ivf.train(df, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivfj").resolve("ix").toString
    Ivf.buildIndex(df, "embedding", m, dir)
    // 16 queries drawn near cluster centers (member vectors re-jittered)
    val rnd = new scala.util.Random(29)
    val queries = (0 until 16).map { qi =>
      val base = df.where($"vec_id" === (qi * 17L) % 320L)
        .select($"embedding").as[Array[Float]].head()
      (qi.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    }
    val qdf = queries.toDF("qid", "qv")
    def rows(r: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      r.select($"qid", $"vec_id", $"rn").as[(Long, Long, Int)]
        .collect().groupBy(_._1).view
        .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val exact = rows(Knn.knnJoin(qdf, df, "qid", "qv", "vec_id", "embedding", 5))
    // full probes score every (query, corpus) pair: identical to the
    // brute-force join, same (dist, id) tiebreak
    val full = rows(Ivf.knnJoin(SparkT.spark, dir, m, qdf, "qid", "qv",
      "vec_id", "embedding", k = 5, nprobe = 8))
    assert(full === exact)
    // one probe per query: most queries keep their exact top-5 outright;
    // aggregate recall stays high. NOT exact by contract — k-means may
    // split a natural cluster across two lists, and a query near that
    // boundary legitimately misses neighbors in the unprobed half (the
    // recall/cost trade nprobe exists to tune).
    val one = rows(Ivf.knnJoin(SparkT.spark, dir, m, qdf, "qid", "qv",
      "vec_id", "embedding", k = 5, nprobe = 1))
    assert(one.keySet === exact.keySet)
    val hits = queries.map(_._1).map(q =>
      one(q).toSet.intersect(exact(q).toSet).size).sum
    val recall = hits.toDouble / (queries.size * 5)
    assert(recall >= 0.85, s"recall@5 at nprobe=1: $recall")
    assert(queries.map(_._1).count(q => one(q) == exact(q)) >= 12,
      "most queries should keep their exact top-5 at one probe")
  }

  test("IVF with nprobe=1 on clustered data: full recall, scans a fraction of rows") {
    val m = Ivf.train(df, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivf2").resolve("ix").toString
    Ivf.buildIndex(df, "embedding", m, dir)
    val exact = Knn.knn(df, "embedding", "vec_id", queryVec, 10)
      .select("vec_id").as[Long].collect().toSet
    val probed = Ivf.search(SparkT.spark, dir, m, "vec_id", "embedding",
      queryVec, 10, nprobe = 1)
    assert(probed.select("vec_id").as[Long].collect().toSet === exact)
    // the probe reads only the one list (~40 rows of 320)
    val probes = m.probeOrder(queryVec).take(1).map(_.toLong)
    val scanned = SparkT.spark.read.parquet(dir)
      .filter($"ivf_cluster".isin(probes: _*)).count()
    assert(scanned <= 80, s"probe scanned $scanned of 320 rows")
  }

  test("adaptive early-terminating search is exact and probes few lists (K5)") {
    val m = Ivf.train(df, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivf3").resolve("ix").toString
    Ivf.buildIndex(df, "embedding", m, dir)
    val radii = Ivf.listRadii(SparkT.spark, dir, m, "embedding")
    val exact = Knn.knn(df, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, probed) = Ivf.searchAdaptive(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10)
    assert(res.as[(Long, Double)].collect().toSeq === exact)
    assert(probed < 8, s"terminated after $probed of 8 lists")
  }

  test("appended index batches search identically to a fresh build (I9)") {
    val m = Ivf.train(df, "embedding", nlist = 8)
    val rows = df.collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)
    import org.apache.spark.sql.Row
    def toDF(rs: Array[Row]) = SparkT.spark.createDataFrame(
      SparkT.spark.sparkContext.parallelize(rs.toSeq), df.schema)
    val dir = Files.createTempDirectory("graft-ivf-seg").resolve("ix").toString
    Ivf.buildIndex(toDF(h1), "embedding", m, dir)
    Ivf.appendToIndex(toDF(h2), "embedding", m, dir)
    val exact = Knn.knn(df, "embedding", "vec_id", queryVec, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    // exact probe set over the segmented index
    val viaIndex = Ivf.search(SparkT.spark, dir, m, "vec_id", "embedding",
        queryVec, 10, nprobe = 8)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(viaIndex === exact)
    // adaptive early termination stays exact: radii rescan the index, so
    // they already cover the appended rows
    val radii = Ivf.listRadii(SparkT.spark, dir, m, "embedding")
    val (res, probed) = Ivf.searchAdaptive(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10)
    assert(res.as[(Long, Double)].collect().toSeq === exact)
    assert(probed <= 8)
  }

  test("cosine adaptive search is exact vs the cosine fullscan and prunes lists (K5)") {
    // Cosine cares about direction: shift clusters off the origin so their
    // directions separate, then bound through the normalized companion.
    val base = df.withColumn("embedding_n", Ivf.normalized($"embedding"))
    val m = Ivf.train(base, "embedding_n", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivfc").resolve("ix").toString
    Ivf.buildIndex(base, "embedding_n", m, dir)
    val radii = Ivf.listRadii(SparkT.spark, dir, m, "embedding_n")
    val exact = Knn.knn(df, "embedding", "vec_id", queryVec, 10, Knn.Cosine)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, probed) = Ivf.searchAdaptiveCosine(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10)
    assert(res.as[(Long, Double)].collect().toSeq === exact)
    assert(probed < 8, s"terminated after $probed of 8 lists")
    // un-normalized query gives the same result (scale invariance); a
    // power-of-two scale is an exact float exponent shift, so even the
    // distances are bit-identical, not just the ordering
    val scaled = queryVec.map(_ * 8.0f)
    val (res2, _) = Ivf.searchAdaptiveCosine(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", scaled, 10)
    assert(res2.as[(Long, Double)].collect().toSeq === exact)
  }

  test("filtered adaptive search: predicate inside the probe scan, exact, over-probes to k survivors (K3)") {
    // label: cluster parity — a 50% filter, the medium-selectivity middle
    // ground where neither brute force nor unfiltered probing is right.
    val labeled = df.withColumn("label", ($"vec_id" / 40).cast("int") % 2)
    val m = Ivf.train(labeled, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivff").resolve("ix").toString
    Ivf.buildIndex(labeled, "embedding", m, dir)
    val radii = Ivf.listRadii(SparkT.spark, dir, m, "embedding")
    val exact = Knn.knn(labeled.filter($"label" === 1), "embedding", "vec_id",
      queryVec, 10).select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val (res, probed) = Ivf.searchAdaptive(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10, filter = Some($"label" === 1))
    assert(res.as[(Long, Double)].collect().toSeq === exact)
    // query sits in cluster 0 (label 0): its own list yields ZERO survivors,
    // so the loop must over-probe past it — but still not scan every list
    assert(probed >= 2 && probed < 8, s"probed $probed of 8 lists")
    // filter matching nothing: fewer than k survivors, empty result, loop
    // terminates after probing everything relevant
    val (none, _) = Ivf.searchAdaptive(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10, filter = Some($"vec_id" < 0))
    assert(none.count() === 0)
  }

  test("searchFiltered routes by selectivity: fullscan for selective, index for broad (K4)") {
    val labeled = df.withColumn("label", ($"vec_id" / 40).cast("int") % 2)
    val m = Ivf.train(labeled, "embedding", nlist = 8)
    val dir = Files.createTempDirectory("graft-ivff2").resolve("ix").toString
    Ivf.buildIndex(labeled, "embedding", m, dir)
    val radii = Ivf.listRadii(SparkT.spark, dir, m, "embedding")
    val exact = Knn.knn(labeled.filter($"label" === 1), "embedding", "vec_id",
      queryVec, 10).select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    // selective (sel*n = 3.2 << 2*k*ef): brute force, exact
    val (bf, _, routedBf) = Ivf.searchFiltered(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10, $"label" === 1,
      selectivity = Some(0.01), rows = 320, ef = 2)
    assert(!routedBf && bf.as[(Long, Double)].collect().toSeq === exact)
    // broad (sel*n = 160 > 2*k*ef = 40): index path, exact, probes pruned
    val (ix, probed, routedIx) = Ivf.searchFiltered(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10, $"label" === 1,
      selectivity = Some(0.5), rows = 320, ef = 2)
    assert(routedIx && ix.as[(Long, Double)].collect().toSeq === exact)
    assert(probed < 8, s"index arm probed $probed of 8")
    // unknown selectivity: conservative always-exact fullscan
    val (un, _, routedUn) = Ivf.searchFiltered(SparkT.spark, dir, m, radii,
      "vec_id", "embedding", queryVec, 10, $"label" === 1,
      selectivity = None, rows = 320, ef = 2)
    assert(!routedUn && un.as[(Long, Double)].collect().toSeq === exact)
  }

  test("cosine IVF-ADC: searchPq and knnJoinPq exact vs the cosine fullscan (r17)") {
    val d = Files.createTempDirectory("graft-ivfpq-cos").resolve("i").toString
    // bound space: the coarse model trains L2 over the unit-normalized
    // vectors (the buildIndexPq cosine contract)
    val normed = df.withColumn("embn", Ivf.normalized(col("embedding")))
    val m = Ivf.train(normed, "embn", nlist = 8)
    val pq = Ivf.buildIndexPq(df, "embedding", "vec_id", m, d,
      metric = Knn.Cosine)
    val got = Ivf.searchPq(SparkT.spark, d, m, pq, "vec_id", "embedding",
        queryVec, k = 10, nprobe = m.nlist, refine = 16,
        metric = Knn.Cosine)
      .as[(Long, Double)].collect().toSeq
    val exact = Knn.knn(df, "embedding", "vec_id", queryVec, 10, Knn.Cosine)
      .as[(Long, Double)].collect().toSeq
    assert(got === exact)
    // batch join: every 25th row as the query batch, in-budget AND the
    // over-budget distributed arm, both ≡ the exact cosine join
    val queries = df.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def joinRows(f: => org.apache.spark.sql.DataFrame) =
      f.select($"qid".cast("long"), $"vec_id".cast("long"),
          $"dist".cast("double"), $"rn".cast("long"))
        .as[(Long, Long, Double, Long)].collect().sortBy(t => (t._1, t._4))
    def go = Ivf.knnJoinPq(SparkT.spark, d, m, pq, queries, "qid", "qvec",
      "vec_id", "vec_id", "embedding", k = 5, nprobe = m.nlist,
      refine = 32, metric = Knn.Cosine)
    val exactJoin = joinRows(Knn.knnJoin(queries, df, "qid", "qvec",
      "vec_id", "embedding", k = 5, Knn.Cosine))
    assert(joinRows(go) === exactJoin)
    SparkT.spark.conf.set("spark.graft.knnJoin.maxQueryBatch", "4")
    try assert(joinRows(go) === exactJoin)
    finally SparkT.spark.conf.unset("spark.graft.knnJoin.maxQueryBatch")
    // the serving metric is part of the on-disk identity: an L2-default
    // search/append against the cosine-built index fails LOUDLY instead
    // of screening raw-space queries against normalized-space codes
    // (review r17-2)
    val eL2 = intercept[IllegalArgumentException](
      Ivf.searchPq(SparkT.spark, d, m, pq, "vec_id", "embedding",
        queryVec, k = 10, nprobe = m.nlist))
    assert(eL2.getMessage.contains("built for metric Cosine"))
    val eApp = intercept[IllegalArgumentException](
      Ivf.appendToIndexPq(df.limit(1), "embedding", m, pq, d))
    assert(eApp.getMessage.contains("built for metric Cosine"))
  }

  test("IP IVF-ADC: augmented-space searchPq/knnJoinPq exact vs the IP fullscan; append binds with the stored M (r18)") {
    val d = Files.createTempDirectory("graft-ivfpq-ip").resolve("i").toString
    // dim 16 → augmented 17 (prime): subM = 17 gives scalar subspaces —
    // mathematically fine for the exactness pin
    val aug = Ivf.ipAugmentedCompanion(df, "embedding", "embaug")
    val m = Ivf.train(aug, "embaug", nlist = 8)
    val pq = Ivf.buildIndexPq(df, "embedding", "vec_id", m, d,
      subM = 17, codeK = 16, metric = Knn.IP)
    def searched = Ivf.searchPq(SparkT.spark, d, m, pq, "vec_id",
        "embedding", queryVec, k = 10, nprobe = m.nlist, refine = 32,
        metric = Knn.IP)
      .as[(Long, Double)].collect().toSeq
    def exactTop(corpus: org.apache.spark.sql.DataFrame) =
      Knn.knn(corpus, "embedding", "vec_id", queryVec, 10, Knn.IP)
        .as[(Long, Double)].collect().toSeq
    assert(searched === exactTop(df))
    // APPEND: a down-scaled batch (norms strictly INSIDE the stored M —
    // the frozen-space contract; over-M drift is the documented clamp
    // caveat) encodes with the marker's bound, search exact over the
    // union immediately
    val extras = df.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000).as("vec_id"),
        transform($"embedding", x => x * lit(0.5f)).as("embedding"))
    Ivf.appendToIndexPq(extras, "embedding", m, pq, d, metric = Knn.IP)
    assert(searched === exactTop(df.unionByName(extras)))
    // batch join, both budget arms, ≡ the exact IP join
    val queries = df.filter($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    def joinRows(f: => org.apache.spark.sql.DataFrame) =
      f.select($"qid".cast("long"), $"vec_id".cast("long"),
          $"dist".cast("double"), $"rn".cast("long"))
        .as[(Long, Long, Double, Long)].collect().sortBy(t => (t._1, t._4))
    def go = Ivf.knnJoinPq(SparkT.spark, d, m, pq, queries, "qid", "qvec",
      "vec_id", "vec_id", "embedding", k = 5, nprobe = m.nlist,
      refine = 64, metric = Knn.IP)
    val exactJoin = joinRows(Knn.knnJoin(queries, df, "qid", "qvec",
      "vec_id", "embedding", k = 5, Knn.IP))
    assert(joinRows(go) === exactJoin)
    SparkT.spark.conf.set("spark.graft.knnJoin.maxQueryBatch", "4")
    try assert(joinRows(go) === exactJoin)
    finally SparkT.spark.conf.unset("spark.graft.knnJoin.maxQueryBatch")
    // metric identity: L2/cosine serving against the IP-built index
    // fails loudly
    val eL2 = intercept[IllegalArgumentException](
      Ivf.searchPq(SparkT.spark, d, m, pq, "vec_id", "embedding",
        queryVec, k = 10, nprobe = m.nlist))
    assert(eL2.getMessage.contains("built for metric IP"))
  }

  test("IP IVF-ADC: a lost/truncated metric marker fails appends LOUDLY " +
      "instead of binding a default-M space (r18 review)") {
    val d = Files.createTempDirectory("graft-ivfpq-ipm").resolve("i").toString
    val aug = Ivf.ipAugmentedCompanion(df, "embedding", "embaug")
    val m = Ivf.train(aug, "embaug", nlist = 4)
    val pq = Ivf.buildIndexPq(df, "embedding", "vec_id", m, d,
      subM = 17, codeK = 16, metric = Knn.IP)
    val extras = df.limit(3)
      .select(($"vec_id" + 2000).as("vec_id"),
        transform($"embedding", x => x * lit(0.5f)).as("embedding"))
    // marker truncated to the metric name alone (the crash-window /
    // bit-rot shape): the metric check still passes, but the bound M is
    // gone -- the append must refuse, never encode with M=0
    val mp = new org.apache.hadoop.fs.Path(d, "_GRAFT_IVFPQ_METRIC")
    val fs = mp.getFileSystem(SparkT.spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write("IP\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    Ivf.invalidatePqMetricCache()
    val e = intercept[IllegalStateException](
      Ivf.appendToIndexPq(extras, "embedding", m, pq, d, metric = Knn.IP))
    assert(e.getMessage.contains("augmentation bound M"))
  }

  test("grouped top-k Aggregator matches the window-function reference") {
    val data = (1 to 500).map(i =>
      (s"g${i % 7}", i.toLong, (i * 37 % 101).toDouble))
    val d = data.toDF("grp", "id", "v")
    val got = TopK.perGroup(d, "grp", "id", "v", 3)
      .select("grp", "id", "rn").as[(String, Long, Int)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v").asc, col("id").asc)
    val want = d.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      .select("grp", "id", "rn").as[(String, Long, Int)].collect().toSet
    assert(got === want)
  }
}
