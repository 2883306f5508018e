package graft.vector

import graft.SparkT
import graft.index.Commit
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** IVF manifest parity (VERDICT r11 #7): [[Ivf.compact]] commits through
  * [[Commit.commitGeneration]], the generation-dir + single-manifest-object
  * commit every index family shares, so an interrupted retrain can never
  * leave a mixed directory. Every crash interleaving (half-written
  * generation, empty manifest version) must leave the index readable and
  * EXACT through every search path. */
class IvfCompactSpec extends AnyFunSuite {

  private val spark = SparkT.spark
  import spark.implicits._

  private def fs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val dim = 8
  private def vec(i: Long): Array[Float] =
    Array.tabulate(dim)(j => ((i * 31 + j * 17) % 97).toFloat / 97f)
  private val base = (0L until 500L).map(i => (i, vec(i)))
  private val extra = (500L until 600L).map(i => (i, vec(i)))
  private val q = vec(0L)

  private def brute(rows: Seq[(Long, Array[Float])]): Seq[(Long, Double)] =
    Knn.knn(rows.toDF("vec_id", "embedding"), "embedding", "vec_id",
        q, 10, Knn.L2)
      .as[(Long, Double)].collect().toSeq

  private def served(d: String, m: Ivf.Model): Seq[(Long, Double)] =
    Ivf.search(spark, d, m, "vec_id", "embedding", q, 10, nprobe = m.nlist)
      .as[(Long, Double)].collect().toSeq

  test("IVF compact: manifest commit, crash interleavings readable, retrain exact") {
    val d = Files.createTempDirectory("graft-ivfcommit").resolve("ivf").toString
    val f = fs(d)
    val m0 = Ivf.train(base.toDF("vec_id", "embedding"), "embedding", nlist = 8)
    Ivf.buildIndex(base.toDF("vec_id", "embedding"), "embedding", m0, d)
    assert(Commit.resolve(spark, d) === d)
    assert(served(d, m0) === brute(base))

    // crash A: a half-written generation dir, no manifest — readers stay
    // on the base dir and the next compact clobbers the garbage
    val stray = new org.apache.hadoop.fs.Path(d + "__g1/part-junk")
    val out = f.create(stray, true); out.write(Array[Byte](1, 2, 3)); out.close()
    assert(Commit.resolve(spark, d) === d)
    assert(served(d, m0) === brute(base))

    // first compact (no retrain): migrates into generation 1; the
    // superseded base dir is retained one cycle and marked
    val m1 = Ivf.compact(spark, d, "embedding", m0)
    assert(m1.centroids === m0.centroids)
    assert(Commit.resolve(spark, d).endsWith("__g1"))
    assert(f.exists(new org.apache.hadoop.fs.Path(d)),
      "previous live generation (legacy base) swept too early")
    assert(f.exists(new org.apache.hadoop.fs.Path(d + "/_GRAFT_SUPERSEDED")),
      "retained base dir not marked superseded")
    assert(served(d, m1) === brute(base))

    // appendToIndex lands in the LIVE generation (not the dead base dir)
    Ivf.appendToIndex(extra.toDF("vec_id", "embedding"), "embedding", m1, d)
    assert(served(d, m1) === brute(base ++ extra))

    // crash B: empty newest manifest version — resolve skips it
    f.create(new org.apache.hadoop.fs.Path(d + "_manifest/v2"), true).close()
    assert(Commit.resolve(spark, d).endsWith("__g1"))
    assert(served(d, m1) === brute(base ++ extra))

    // retraining compact: new generation serves the appended corpus with
    // a model re-fit to it; g1 is retained one cycle
    val m2 = Ivf.compact(spark, d, "embedding", m1, retrain = true)
    val gen2 = Commit.resolve(spark, d)
    assert(!gen2.endsWith("__g1") && gen2 != d, gen2)
    assert(f.exists(new org.apache.hadoop.fs.Path(d + "__g1")),
      "previous live generation swept too early")
    assert(!f.exists(new org.apache.hadoop.fs.Path(d)),
      "base dir survived past its retention cycle")
    assert(served(d, m2) === brute(base ++ extra))
    // adaptive bound + radii read through the same resolution
    val radii = Ivf.listRadii(spark, d, m2, "embedding")
    val (adf, _) = Ivf.searchAdaptive(spark, d, m2, radii, "vec_id",
      "embedding", q, 10)
    assert(adf.as[(Long, Double)].collect().toSeq === brute(base ++ extra))

    // one more compact sweeps g1 (past its retention cycle)
    val m3 = Ivf.compact(spark, d, "embedding", m2)
    assert(!f.exists(new org.apache.hadoop.fs.Path(d + "__g1")),
      "generation survived past its one-cycle retention")
    assert(served(d, m3) === brute(base ++ extra))

    // the automatic route registers against the resolved generation (the
    // base dir no longer exists — an unresolved read would throw)
    val bdir = Files.createTempDirectory("graft-ivfcommit-b").resolve("t").toString
    (base ++ extra).toDF("vec_id", "embedding").write.parquet(bdir)
    try {
      graft.plans.AnnRouting.register(spark, bdir, d, m3, "embedding",
        nprobe = m3.nlist)
    } finally graft.plans.AnnRouting.unregister(spark, bdir)

    // an in-place rebuild at the dead base path must fail fast — it would
    // be invisible to readers, who resolve to the committed generation
    val e = intercept[IllegalArgumentException] {
      Ivf.buildIndex(base.toDF("vec_id", "embedding"), "embedding", m3, d)
    }
    assert(e.getMessage.contains("manifest-managed"), e.getMessage)
  }

  test("IVF-ADC compactPq: re-encodes residual codes through retrain; plain compact refuses (r17)") {
    val d = Files.createTempDirectory("graft-ivfpqc").resolve("i").toString
    val df = base.toDF("vec_id", "embedding")
    val m0 = Ivf.train(df, "embedding", nlist = 8)
    val pq0 = Ivf.buildIndexPq(df, "embedding", "vec_id", m0, d)
    def servedPq(m: Ivf.Model, pq: Quantize.PqModel): Seq[(Long, Double)] =
      Ivf.searchPq(spark, d, m, pq, "vec_id", "embedding", q, 10,
          nprobe = m.nlist, refine = 32)
        .as[(Long, Double)].collect().toSeq
    assert(servedPq(m0, pq0) === brute(base))
    // append drifted rows under the frozen models, then OPTIMIZE with
    // retrain: the committed generation's codes must be residuals of the
    // NEW centroids (searchPq exact against the full corpus)
    Ivf.appendToIndexPq(extra.toDF("vec_id", "embedding"), "embedding",
      m0, pq0, d)
    val (m1, pq1) = Ivf.compactPq(spark, d, "embedding", "vec_id", m0, pq0,
      retrain = true)
    assert(Commit.resolve(spark, d) !== d) // generation committed
    assert(servedPq(m1, pq1) === brute(base ++ extra))
    // the metric marker rode into the new generation: an L2-default call
    // still passes, and the guard machinery still sees the marker
    Ivf.checkPqMetric(spark, d, Knn.L2)
    // a SECOND compact cycle keeps serving exactly (sweep + re-commit)
    val (m2, pq2) = Ivf.compactPq(spark, d, "embedding", "vec_id", m1, pq1)
    assert(servedPq(m2, pq2) === brute(base ++ extra))
    // the PLAIN compact refuses an ADC-coded table instead of carrying
    // stale codes through a retrain
    val e = intercept[IllegalArgumentException](
      Ivf.compact(spark, d, "embedding", m2, retrain = true))
    assert(e.getMessage.contains("compactPq"))
  }
}
