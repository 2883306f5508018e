package graft.vector

import graft.SparkT
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** S4 parity for the ANN artifacts (the CheckSecondaryIndex pattern,
  * secondary/secondary.h:97, applied to the KNN families): a healthy
  * index passes every pass; each invariant, corrupted in isolation, is
  * caught by name. */
class VectorIndexCheckSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = graft.engine.Graft.table(SparkT.spark, sfDir, "embeddings")

  /** Healthy clustered graph fixture (legacy base layout: resolveDirs
    * yields (dir, dir_route)). */
  private lazy val gdir: String = {
    val d = Files.createTempDirectory("graft-vcheck").resolve("g").toString
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 4))
    d
  }

  /** Copy the fixture with a graph and/or route mutation applied. */
  private def corrupt(mutG: DataFrame => DataFrame = identity,
                      mutR: DataFrame => DataFrame = identity): String = {
    val out = Files.createTempDirectory("graft-vcheck-bad").resolve("g").toString
    mutG(SparkT.spark.read.parquet(gdir)).write.parquet(out)
    mutR(SparkT.spark.read.parquet(Hnsw.routePath(gdir)))
      .write.parquet(Hnsw.routePath(out))
    out
  }

  private def issuesOf(path: String): Seq[String] =
    VectorIndexCheck.checkGraph(SparkT.spark, path,
      fact = Some((emb, "vec_id"))).issues

  test("healthy clustered graph passes every pass, incl. fact reconciliation") {
    val r = VectorIndexCheck.checkGraph(SparkT.spark, gdir,
      fact = Some((emb, "vec_id")))
    assert(r.ok, r.issues.mkString("; "))
    assert(r.rows === 500)
  }

  test("an understated sidecar radius breaks the triangle bound and is caught") {
    val is = issuesOf(corrupt(mutR = _.withColumn("radius", col("radius") * 0.5)))
    assert(is.exists(_.contains("outside their sidecar radius")), is)
  }

  test("a negative radius is caught") {
    val is = issuesOf(corrupt(mutR = _.withColumn("radius",
      when(col("pid") === 0, lit(-1.0)).otherwise(col("radius")))))
    assert(is.exists(_.contains("negative radius")), is)
  }

  test("sidecar/graph pid drift is caught in both directions") {
    // a sub-graph with no route row is invisible to the routed walk
    val noRoute = issuesOf(corrupt(mutR = _.filter(col("pid") =!= 0)))
    assert(noRoute.exists(_.contains("no sidecar row")), noRoute)
    // a route row with no sub-graph mis-schedules probes
    val noGraph = issuesOf(corrupt(mutG = _.filter(col("pid") =!= 0)))
    assert(noGraph.exists(_.contains("no sub-graph rows")), noGraph)
  }

  test("mixed sidecar metrics are caught") {
    val is = issuesOf(corrupt(mutR = _.withColumn("metric",
      when(col("pid") === 0, lit("cosine")).otherwise(col("metric")))))
    assert(is.exists(_.contains("mixed sidecar metrics")), is)
  }

  test("dimension drift is caught for node vectors and centroids") {
    val vdim = issuesOf(corrupt(mutG = g => g.withColumn("vec",
      when(col("id") === 7, slice(col("vec"), 1, 63)).otherwise(col("vec")))))
    assert(vdim.exists(_.contains("inconsistent vector dims")), vdim)
    val cdim = issuesOf(corrupt(mutR = r => r.withColumn("centroid",
      slice(col("centroid"), 1, 63))))
    assert(cdim.exists(_.contains("centroid dim")), cdim)
  }

  test("adjacency pointing outside its sub-graph is caught") {
    val is = issuesOf(corrupt(mutG = g => g.withColumn("neighbors",
      when(col("id") === 7, concat(col("neighbors"), array(lit(999999L))))
        .otherwise(col("neighbors")))))
    assert(is.exists(_.contains("outside their sub-graph")), is)
  }

  test("a dropped chain edge (connectivity) is caught") {
    // pick a node that has an id-order predecessor within its sub-graph
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("id"))
    val victim = SparkT.spark.read.parquet(gdir)
      .withColumn("prev", lag(col("id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("id"), col("prev")).as[(Long, Long)].head()
    val is = issuesOf(corrupt(mutG = g => g.withColumn("neighbors",
      when(col("id") === victim._1,
        array_remove(col("neighbors"), victim._2))
        .otherwise(col("neighbors")))))
    assert(is.exists(_.contains("missing their chain edge")), is)
  }

  test("an id owned by two sub-graphs is caught") {
    val is = issuesOf(corrupt(mutG = g => g.union(
      g.filter(col("id") === 7).withColumn("pid",
        (col("pid") + 1) % 4))))
    assert(is.exists(_.contains("more than one sub-graph")), is)
  }

  test("fact drift is caught in both directions") {
    // a graph row dropped after a fact append: fact id missing from graph
    val missing = issuesOf(corrupt(mutG = _.filter(col("id") =!= 7)))
    assert(missing.exists(_.contains("fact ids missing from the graph")), missing)
    // a stale graph after a fact delete: graph id absent from fact
    val r = VectorIndexCheck.checkGraph(SparkT.spark, gdir,
      fact = Some((emb.filter($"vec_id" =!= 7), "vec_id")))
    assert(r.issues.exists(_.contains("absent from the fact table")), r.issues)
  }

  test("cosine-metric graph validates its radius in the normalized bound space") {
    val d = Files.createTempDirectory("graft-vcheck-cos").resolve("g").toString
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 4), Knn.Cosine)
    val r = VectorIndexCheck.checkGraph(SparkT.spark, d)
    assert(r.ok, r.issues.mkString("; "))
  }

  // --- quantized families -------------------------------------------------

  private def writeTable(df: DataFrame): String = {
    val p = Files.createTempDirectory("graft-vcheck-q").resolve("t").toString
    df.write.parquet(p)
    p
  }

  /** Flip the first code byte of vec_id 3 (codes are BINARY — no array
    * expressions — so the flip runs in typed space over the three columns
    * the check reads). */
  private def flipByte(t: DataFrame, qCol: String): DataFrame =
    t.select(col("vec_id"), col("embedding"), col(qCol))
      .as[(Long, Seq[Float], Array[Byte])]
      .map { case (id, v, c) =>
        if (id == 3L) c(0) = (c(0) + 1).toByte
        (id, v, c)
      }.toDF("vec_id", "embedding", qCol)

  test("int8 family: healthy passes; code drift, dup ids, fact drift caught") {
    val m = Quantize.train(emb, "embedding")
    val path = writeTable(Quantize.encodeTable(emb, "embedding", "qvec", m))
    val ok = VectorIndexCheck.checkCodec(SparkT.spark, path, "embedding",
      "qvec", "vec_id", m, fact = Some((emb, "vec_id")))
    assert(ok.ok, ok.issues.mkString("; "))
    assert(ok.rows === 500)
    // one flipped code byte (bit rot / stale model after retrain-compact);
    // codes are BINARY, so the flip runs in typed space
    val t = SparkT.spark.read.parquet(path)
    val bad = writeTable(flipByte(t, "qvec"))
    val r1 = VectorIndexCheck.checkCodec(SparkT.spark, bad, "embedding",
      "qvec", "vec_id", m)
    assert(r1.issues.exists(_.contains("disagree with the model re-encode")),
      r1.issues)
    // duplicated id
    val dup = writeTable(t.union(t.filter(col("vec_id") === 3)))
    val r2 = VectorIndexCheck.checkCodec(SparkT.spark, dup, "embedding",
      "qvec", "vec_id", m)
    assert(r2.issues.exists(_.contains("duplicate")), r2.issues)
    // stale table vs fact, both directions
    val part = writeTable(t.filter(col("vec_id") =!= 3))
    val r3 = VectorIndexCheck.checkCodec(SparkT.spark, part, "embedding",
      "qvec", "vec_id", m, fact = Some((emb, "vec_id")))
    assert(r3.issues.exists(_.contains("fact ids missing")), r3.issues)
    val r4 = VectorIndexCheck.checkCodec(SparkT.spark, path, "embedding",
      "qvec", "vec_id", m, fact = Some((emb.filter($"vec_id" =!= 3), "vec_id")))
    assert(r4.issues.exists(_.contains("absent from the fact table")), r4.issues)
  }

  test("4-bit family: healthy passes; nibble drift caught") {
    val m = Quantize.train4(emb, "embedding")
    val path = writeTable(Quantize.encodeTable(emb, "embedding", "q4vec", m))
    val ok = VectorIndexCheck.checkCodec(SparkT.spark, path, "embedding",
      "q4vec", "vec_id", m)
    assert(ok.ok, ok.issues.mkString("; "))
    val t = SparkT.spark.read.parquet(path)
    val bad = writeTable(flipByte(t, "q4vec"))
    val r = VectorIndexCheck.checkCodec(SparkT.spark, bad, "embedding",
      "q4vec", "vec_id", m)
    assert(r.issues.exists(_.contains("disagree with the model re-encode")),
      r.issues)
  }

  test("binary family: healthy passes; flipped sign word caught") {
    val m = Quantize.trainBinary(emb, "embedding")
    val path = writeTable(Quantize.encodeTable(emb, "embedding", "bvec", m))
    val ok = VectorIndexCheck.checkCodec(SparkT.spark, path, "embedding",
      "bvec", "vec_id", m, fact = Some((emb, "vec_id")))
    assert(ok.ok, ok.issues.mkString("; "))
    val t = SparkT.spark.read.parquet(path)
    val bad = writeTable(t.withColumn("bvec",
      when(col("vec_id") === 3,
        array(element_at(col("bvec"), 1).bitwiseXOR(lit(1L))))
        .otherwise(col("bvec"))))
    val r = VectorIndexCheck.checkCodec(SparkT.spark, bad, "embedding",
      "bvec", "vec_id", m)
    assert(r.issues.exists(_.contains("disagree with the model re-encode")),
      r.issues)
  }

  test("IVF family: healthy passes; assignment drift, oob cluster, dup id, fact drift caught") {
    val m = Ivf.train(emb, "embedding", nlist = 8)
    val path = writeTable(Ivf.assign(emb, "embedding", m))
    val ok = VectorIndexCheck.checkIvf(SparkT.spark, path, "embedding",
      "vec_id", m, fact = Some((emb, "vec_id")))
    assert(ok.ok, ok.issues.mkString("; "))
    assert(ok.rows === 500)
    val t = SparkT.spark.read.parquet(path)
    // one row re-assigned to a DIFFERENT (in-bounds) cluster: the stale-
    // model / bit-rot shape the re-assign pass exists for
    val drift = writeTable(t.withColumn("ivf_cluster",
      when(col("vec_id") === 3L,
        pmod(col("ivf_cluster") + 1, lit(m.nlist.toLong)))
        .otherwise(col("ivf_cluster"))))
    val r1 = VectorIndexCheck.checkIvf(SparkT.spark, drift, "embedding",
      "vec_id", m)
    assert(r1.issues.exists(_.contains("disagree with the model re-assign")),
      r1.issues)
    // out-of-bounds cluster id (also drifts, but must be named as oob)
    val oob = writeTable(t.withColumn("ivf_cluster",
      when(col("vec_id") === 3L, lit(99L)).otherwise(col("ivf_cluster"))))
    val r2 = VectorIndexCheck.checkIvf(SparkT.spark, oob, "embedding",
      "vec_id", m)
    assert(r2.issues.exists(_.contains("outside [0, 8)")), r2.issues)
    // duplicated id
    val dup = writeTable(t.union(t.filter(col("vec_id") === 3)))
    val r3 = VectorIndexCheck.checkIvf(SparkT.spark, dup, "embedding",
      "vec_id", m)
    assert(r3.issues.exists(_.contains("duplicate")), r3.issues)
    // stale vs fact, both directions
    val part = writeTable(t.filter(col("vec_id") =!= 3))
    val r4 = VectorIndexCheck.checkIvf(SparkT.spark, part, "embedding",
      "vec_id", m, fact = Some((emb, "vec_id")))
    assert(r4.issues.exists(_.contains("fact ids missing")), r4.issues)
    val r5 = VectorIndexCheck.checkIvf(SparkT.spark, path, "embedding",
      "vec_id", m, fact = Some((emb.filter($"vec_id" =!= 3), "vec_id")))
    assert(r5.issues.exists(_.contains("absent from the fact table")), r5.issues)
    // a compact-managed index is checked at its LIVE generation (the dead
    // base path would throw on read)
    val cdir = Files.createTempDirectory("graft-vcheck-ivfc").resolve("i").toString
    Ivf.buildIndex(emb, "embedding", m, cdir)
    val m2 = Ivf.compact(SparkT.spark, cdir, "embedding", m)
    Ivf.compact(SparkT.spark, cdir, "embedding", m2) // sweeps the base dir
    val r6 = VectorIndexCheck.checkIvf(SparkT.spark, cdir, "embedding",
      "vec_id", m2, fact = Some((emb, "vec_id")))
    assert(r6.ok, r6.issues.mkString("; "))
    assert(r6.path.contains("__g"), r6.path)
  }

  test("layer sidecar: healthy passes; orphan member, closure gap, dangling adjacency, bad level caught (r15)") {
    val d = Files.createTempDirectory("graft-vcheck-hier").resolve("g").toString
    Hnsw.buildIndexClustered(emb, "embedding", "vec_id", d,
      Hnsw.Params(m = 8, efC = 64, partitions = 4))
    Hnsw.buildHierarchy(SparkT.spark, d, Hnsw.Params(m = 8, efC = 64))
    val healthy = VectorIndexCheck.checkLayers(SparkT.spark, d)
    assert(healthy.ok, healthy.issues.mkString("; "))
    assert(healthy.rows > 0)

    def corruptL(mut: DataFrame => DataFrame): String = {
      val out = Files.createTempDirectory("graft-vcheck-hier-bad")
        .resolve("g").toString
      SparkT.spark.read.parquet(d).write.parquet(out)
      SparkT.spark.read.parquet(Hnsw.routePath(d))
        .write.parquet(Hnsw.routePath(out))
      mut(SparkT.spark.read.parquet(Hnsw.layersPath(d)))
        .write.parquet(Hnsw.layersPath(out))
      out
    }
    // a member id the sub-graph does not hold (pass 3)
    val orphan = corruptL(l => l.withColumn("id",
      when(col("level") === 1 && col("id") === l.filter($"level" === 1)
        .agg(min("id")).head.getLong(0), lit(999999L)).otherwise(col("id"))))
    assert(VectorIndexCheck.checkLayers(SparkT.spark, orphan)
      .issues.exists(_.contains("absent from their")), orphan)
    // drop a level-1 row for a node that also sits at level 2 (pass 4) —
    // only when the fixture drew a level-2 node (m=8 over 500 ids: ~7)
    val l2ids = SparkT.spark.read.parquet(Hnsw.layersPath(d))
      .filter($"level" === 2).select("id").as[Long].collect()
    if (l2ids.nonEmpty) {
      val gap = corruptL(l =>
        l.filter(!(col("level") === 1 && col("id") === l2ids.head)))
      assert(VectorIndexCheck.checkLayers(SparkT.spark, gap)
        .issues.exists(_.contains("downward closure")), gap)
    }
    // adjacency pointing at a non-member of the (pid, level) (pass 5)
    val dang = corruptL(l => l.withColumn("neighbors",
      when(col("level") === 1, array(lit(999999L)))
        .otherwise(col("neighbors"))))
    assert(VectorIndexCheck.checkLayers(SparkT.spark, dang)
      .issues.exists(_.contains("outside their")), dang)
    // a level-0 row in the sidecar (pass 2)
    val lvl0 = corruptL(l => l.withColumn("level",
      when(col("level") === 1, lit(0)).otherwise(col("level"))))
    assert(VectorIndexCheck.checkLayers(SparkT.spark, lvl0)
      .issues.exists(_.contains("level < 1")), lvl0)
  }

  test("IP-trained families: healthy passes (raw rows vs augmented code " +
      "dim), drift still caught") {
    // an IP model's code dim is dim+1 (the MIPS->L2 augmented coordinate)
    // while stored rows stay raw-width -- the check must compare against
    // rawDim, not flag every row (review r18-2)
    val mq = Quantize.train(emb, "embedding", Knn.IP)
    val qp = writeTable(Quantize.encodeTable(emb, "embedding", "qvec", mq))
    val okQ = VectorIndexCheck.checkCodec(SparkT.spark, qp, "embedding",
      "qvec", "vec_id", mq, fact = Some((emb, "vec_id")))
    assert(okQ.ok, okQ.issues.mkString("; "))
    assert(okQ.rows === 500)
    val badQ = writeTable(flipByte(SparkT.spark.read.parquet(qp), "qvec"))
    assert(VectorIndexCheck.checkCodec(SparkT.spark, badQ, "embedding",
      "qvec", "vec_id", mq).issues
      .exists(_.contains("disagree with the model re-encode")))

    val m4 = Quantize.train4(emb, "embedding", Knn.IP)
    val p4 = writeTable(Quantize.encodeTable(emb, "embedding", "q4vec", m4))
    val ok4 = VectorIndexCheck.checkCodec(SparkT.spark, p4, "embedding",
      "q4vec", "vec_id", m4)
    assert(ok4.ok, ok4.issues.mkString("; "))

    val mb = Quantize.trainBinary(emb, "embedding", Knn.IP)
    val pb = writeTable(Quantize.encodeTable(emb, "embedding", "bvec", mb))
    val okB = VectorIndexCheck.checkCodec(SparkT.spark, pb, "embedding",
      "bvec", "vec_id", mb)
    assert(okB.ok, okB.issues.mkString("; "))
  }
}
