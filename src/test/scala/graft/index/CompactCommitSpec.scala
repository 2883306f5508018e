package graft.index

import graft.SparkT
import graft.vector.{Hnsw, Ivf, Knn, Quantize}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Object-store-safe compact commit (VERDICT r8 #7): the manifest scheme
  * never renames data — a compact writes a new immutable generation dir and
  * commits it with ONE small manifest object. Every crash interleaving
  * (half-written generation, partial/empty manifest version, manifest
  * naming a missing dir, commit-without-cleanup) must leave the index
  * readable and checkable through [[Commit.resolve]].
  *
  * The last block is ONE table over every generation-committed rewrite
  * (secondary, IVF, IVF-ADC compact + delete, float and code graph): each
  * row runs the same crash, retention, sweep and manifest-loss checks, and
  * reads through the family's own serving path against brute force. */
class CompactCommitSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private val spark = SparkT.spark
  private def fs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val rows = (0 until 1200).map(i => (i.toLong % 9, i.toLong))
  private def want(v: Long): Set[Long] =
    rows.filter(_._1 == v).map(_._2).toSet

  private def lookup(d: String, v: Long): Set[Long] =
    SecondaryIndex.lookupKeys(spark, d, Seq(v)).as[Long].collect().toSet

  private def healthy(d: String): Unit = {
    assert(lookup(d, 4L) === want(4L))
    assert(SecondaryIndex.calcCount(spark, d, Seq(4L)) === want(4L).size.toLong)
    val rep = IndexCheck.check(spark, d)
    assert(rep.ok, rep.issues.mkString("; "))
  }

  test("manifest compact: single-object commit, every crash interleaving readable") {
    val d = Files.createTempDirectory("graft-mcommit").resolve("idx").toString
    val f = fs(d)
    SecondaryIndex.build(rows.toDF("value", "key"), "value", "key", d)
    healthy(d)
    assert(Commit.resolve(spark, d) === d)

    // crash A: a half-written generation dir, no manifest — readers must
    // stay on the base dir, and the next compact must clobber the garbage
    val stray = new org.apache.hadoop.fs.Path(d + "__g1/part-junk")
    val out = f.create(stray, true); out.write(Array[Byte](1, 2, 3)); out.close()
    assert(Commit.resolve(spark, d) === d)
    healthy(d)

    // first real compact: migrates the legacy dir into generation 1. The
    // superseded base dir is RETAINED one cycle (ADVICE r9: a reader that
    // resolved it pre-commit must finish on a consistent snapshot)
    SecondaryIndex.compactManifest(spark, d)
    assert(Commit.resolve(spark, d).endsWith("__g1"))
    assert(f.exists(new org.apache.hadoop.fs.Path(d)),
      "previous live generation (legacy base) swept too early")
    // ...and marked, so resolve()'s fallback can never serve it as live
    assert(f.exists(new org.apache.hadoop.fs.Path(d + "/_GRAFT_SUPERSEDED")),
      "retained base dir not marked superseded")
    healthy(d)

    // crash B: partially-written newest manifest version (empty object) —
    // resolve must skip it and fall back to v1
    val v2 = new org.apache.hadoop.fs.Path(d + "_manifest/v2")
    f.create(v2, true).close()
    assert(Commit.resolve(spark, d).endsWith("__g1"))
    healthy(d)

    // crash B': newest version names a generation that never finished
    // (commit object landed, data PUTs did not — not possible under the
    // write-then-commit order, but resolve tolerates it anyway)
    Commit.writeManifest(f, d, 3L,
      new org.apache.hadoop.fs.Path(d + "__g99").getName)
    assert(Commit.resolve(spark, d).endsWith("__g1"))
    healthy(d)

    // next compact: versions move past the junk (curVersion = 3 → gen 4),
    // reads flip atomically; g1 (live until this commit) is retained one
    // cycle while the base dir (past its retention cycle) is swept
    SecondaryIndex.compactManifest(spark, d)
    assert(Commit.resolve(spark, d).endsWith("__g4"))
    assert(f.exists(new org.apache.hadoop.fs.Path(d + "__g1")),
      "previous live generation swept too early")
    assert(!f.exists(new org.apache.hadoop.fs.Path(d)),
      "base dir survived past its retention cycle")
    healthy(d)

    // appendSegment lands in the LIVE generation and compacts away
    val extra = (10000 until 10100).map(i => (i.toLong % 9, i.toLong))
    SecondaryIndex.appendSegment(extra.toDF("value", "key"), "value", "key", d)
    val wantAll = (rows ++ extra).filter(_._1 == 4L).map(_._2).toSet
    assert(lookup(d, 4L) === wantAll)
    SecondaryIndex.compactManifest(spark, d)
    assert(lookup(d, 4L) === wantAll)
    assert(!f.exists(new org.apache.hadoop.fs.Path(d + "__g1")),
      "generation survived past its one-cycle retention")
    val rep = IndexCheck.check(spark, d,
      fact = Some(((rows ++ extra).toDF("value", "key"), "value", "key")))
    assert(rep.ok, rep.issues.mkString("; "))

    // the rename-based compact refuses a manifest-managed dir
    intercept[IllegalArgumentException] {
      SecondaryIndex.compact(spark, d)
    }

    // ...and so does an in-place rebuild at the dead base path (r12): it
    // would be invisible to readers, who resolve to the live generation
    intercept[IllegalArgumentException] {
      SecondaryIndex.build(rows.toDF("value", "key"), "value", "key", d)
    }

    // orphan sweep (review r9): a crash between a PAST commit and its
    // cleanup leaves generations the next compact's `cur` would never
    // revisit — recreate that state and verify the sweep clears ALL of it
    val straleGen = new org.apache.hadoop.fs.Path(d + "__g2/part-stale")
    val o1 = f.create(straleGen, true); o1.write(Array[Byte](9)); o1.close()
    val straleBase = new org.apache.hadoop.fs.Path(d + "/part-stale")
    val o2 = f.create(straleBase, true); o2.write(Array[Byte](9)); o2.close()
    // rename-scheme leftover: if it survived, a later manifest-dir loss
    // would silently serve this stale copy through resolve()'s fallback
    val straleOld = new org.apache.hadoop.fs.Path(d + "_old/part-stale")
    val o3 = f.create(straleOld, true); o3.write(Array[Byte](9)); o3.close()
    SecondaryIndex.compactManifest(spark, d)
    assert(!f.exists(new org.apache.hadoop.fs.Path(d + "__g2")),
      "orphaned generation survived the sweep")
    assert(!f.exists(new org.apache.hadoop.fs.Path(d)),
      "recreated base dir survived the sweep")
    assert(!f.exists(new org.apache.hadoop.fs.Path(d + "_old")),
      "rename-scheme _old leftover survived the sweep")
    assert(lookup(d, 4L) === wantAll)
  }

  test("manifest loss with a retained superseded base fails loudly, never stale reads") {
    // review r10: retention keeps the pre-commit generation readable for
    // in-flight readers, but it must NEVER become a resolve() fallback —
    // losing the manifest dir then has to be an error, not silent stale
    // postings.
    val d = Files.createTempDirectory("graft-mloss").resolve("idx").toString
    val f = fs(d)
    SecondaryIndex.build(rows.toDF("value", "key"), "value", "key", d)
    SecondaryIndex.compactManifest(spark, d) // migrates, retains marked base
    assert(Commit.resolve(spark, d).endsWith("__g1"))
    f.delete(new org.apache.hadoop.fs.Path(d + "_manifest"), true)
    val e = intercept[IllegalStateException] {
      Commit.resolve(spark, d)
    }
    assert(e.getMessage.contains("superseded"))
  }

  // ---- the commit protocol, one row per generation-committed rewrite ----

  /** A generation-committed rewrite. `build` writes the legacy base layout
    * at a path; `commit(path, i)` runs the i-th rewrite; `read` answers a
    * fixed query through the family's serving path and `brute(i)` answers
    * it by brute force over the corpus left after i rewrites. `sidecars`
    * are the base layout's sibling dirs (`<path>_<name>`). */
  private case class Rewrite(name: String, build: String => Unit,
                             commit: (String, Int) => Unit,
                             read: String => Any, brute: Int => Any,
                             sidecars: Seq[String] = Nil)

  private val dim = 8
  private val vectors: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(41)
    val centers = Seq.fill(6)(Array.fill(dim)(rnd.nextGaussian().toFloat * 3))
    (0 until 360).map(i => (i.toLong,
      centers(i % 6).map(x => x + 0.3f * rnd.nextGaussian().toFloat)))
  }
  private val q = vectors(5)._2
  private def corpus(keep: Long => Boolean = _ => true): DataFrame =
    vectors.filter(v => keep(v._1)).toDF("vec_id", "embedding")
  private def topK(df: DataFrame): Seq[(Long, Double)] =
    df.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
  private def exact(keep: Long => Boolean = _ => true): Seq[(Long, Double)] =
    topK(Knn.knn(corpus(keep), "embedding", "vec_id", q, 10))

  private lazy val model = Ivf.train(corpus(), "embedding", nlist = 6)
  private val codebooks =
    scala.collection.concurrent.TrieMap.empty[String, Quantize.PqModel]
  private def searchPq(d: String) = topK(Ivf.searchPq(spark, d, model,
    codebooks(d), "vec_id", "embedding", q, 10, nprobe = model.nlist))
  // the i-th delete removes the ids `id % m == r` of slice i (the query's
  // own cluster is hit first)
  private val slices = Seq(12L -> 5L, 18L -> 11L, 7L -> 0L)
  private def survives(i: Int)(id: Long) =
    slices.take(i).forall { case (m, r) => id % m != r }

  private val graphP = Hnsw.Params(m = 8, efC = 32, partitions = 4)
  // invalidate first: the resident graph would otherwise answer without
  // resolving the index again
  private def routed(d: String) = {
    Hnsw.invalidate(d)
    topK(Hnsw.searchRouted(spark, d, "vec_id", q, 10, ef = 1 << 20)._1)
  }
  private def quantized(d: String) = {
    Hnsw.invalidate(d)
    topK(Hnsw.searchQuantized(spark, d, corpus(), "embedding", "vec_id", q,
      10, ef = 1 << 20)._1)
  }

  private val rewrites = Seq(
    Rewrite("secondary compactManifest",
      d => SecondaryIndex.build(rows.toDF("value", "key"), "value", "key", d),
      (d, _) => SecondaryIndex.compactManifest(spark, d),
      d => lookup(d, 4L), _ => want(4L)),
    Rewrite("IVF compact",
      d => Ivf.buildIndex(corpus(), "embedding", model, d),
      (d, _) => Ivf.compact(spark, d, "embedding", model),
      d => topK(Ivf.search(spark, d, model, "vec_id", "embedding", q, 10,
        nprobe = model.nlist)),
      _ => exact()),
    Rewrite("IVF-ADC compactPq",
      d => codebooks(d) = Ivf.buildIndexPq(corpus(), "embedding", "vec_id",
        model, d),
      (d, _) => Ivf.compactPq(spark, d, "embedding", "vec_id", model,
        codebooks(d)),
      searchPq, _ => exact()),
    Rewrite("IVF-ADC deleteFromIndex",
      d => codebooks(d) = Ivf.buildIndexPq(corpus(), "embedding", "vec_id",
        model, d),
      (d, i) => Ivf.deleteFromIndex(spark, d,
        col("vec_id") % slices(i - 1)._1 === slices(i - 1)._2),
      searchPq, i => exact(survives(i))),
    Rewrite("float graph compactClustered",
      d => Hnsw.buildIndexClustered(corpus(), "embedding", "vec_id", d, graphP),
      (d, _) => Hnsw.compactClustered(spark, d, graphP),
      routed, _ => exact(), sidecars = Seq("route")),
    Rewrite("code graph compactQuantized",
      d => Hnsw.buildIndexClusteredQuantized(corpus(), "embedding", "vec_id",
        d, graphP),
      (d, _) => Hnsw.compactQuantized(corpus(), "embedding", "vec_id", d,
        graphP),
      quantized, _ => exact(), sidecars = Seq("route", "qmodel")))

  private def put(p: Path, body: String): Unit = {
    val out = fs(p.toString).create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  rewrites.foreach { r =>
    test(s"commit protocol, ${r.name}: crash windows, retention, sweep, manifest loss") {
      val d = Files.createTempDirectory("graft-commit").resolve("ix").toString
      val f = fs(d)
      def gen(n: Int) = new Path(s"${d}__g$n")
      val legacy = (d +: r.sidecars.map(s => s"${d}_$s")).map(new Path(_))
      val mdir = new Path(d + "_manifest")
      def served(i: Int): Unit = assert(r.read(d) === r.brute(i), r.name)
      r.build(d)
      served(0)

      // crash A: a half-written generation and no manifest — reads stay on
      // the base layout, and the next commit clobbers the garbage
      put(new Path(gen(1), "part-junk"), "junk")
      served(0)
      r.commit(d, 1)
      served(1)
      assert(!f.exists(new Path(gen(1), "part-junk")), "crashed attempt kept")

      // the legacy layout, live until this commit, is retained one cycle
      // and marked superseded
      legacy.foreach(p => assert(f.exists(p), s"$p swept too early"))
      assert(f.exists(new Path(d, "_GRAFT_SUPERSEDED")),
        "retained base not marked superseded")

      // manifest loss with that base retained fails loudly, never stale
      val lost = new Path(d + "_manifest_lost")
      assert(f.rename(mdir, lost))
      val e = intercept[IllegalStateException](r.read(d))
      assert(e.getMessage.contains("superseded"), e.getMessage)
      assert(f.rename(lost, mdir))
      served(1)

      // crash B: an empty newest manifest version is skipped
      f.create(new Path(mdir, "v2"), true).close()
      served(1)
      // a version naming a generation that does not exist is skipped
      put(new Path(mdir, "v3"), new Path(d).getName + "__g99\n")
      served(1)

      // an orphan generation (crash between a past commit and its sweep)
      put(new Path(gen(2), "part-stale"), "stale")
      r.commit(d, 2) // versions move past the junk: generation 4
      served(2)
      assert(f.exists(gen(4)))
      assert(f.exists(gen(1)), "previous generation swept too early")
      legacy.foreach(p => assert(!f.exists(p), s"$p outlived its cycle"))
      assert(!f.exists(gen(2)), "orphaned generation survived the sweep")

      // orphans again, a recreated base dir among them
      put(new Path(d, "part-stale"), "stale")
      put(new Path(gen(2), "part-stale"), "stale")
      r.commit(d, 3)
      served(3)
      assert(f.exists(gen(4)), "previous generation swept too early")
      assert(!f.exists(gen(1)), "generation outlived its one-cycle retention")
      assert(!f.exists(new Path(d)), "recreated base dir survived the sweep")
      assert(!f.exists(gen(2)), "orphaned generation survived the sweep")
    }
  }
}
