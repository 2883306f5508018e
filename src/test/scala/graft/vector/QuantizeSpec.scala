package graft.vector

import graft.SparkT
import org.scalatest.funsuite.AnyFunSuite

/** int8 quantization: bounded reconstruction error, exact-match rescoring
  * on the real fixture, degenerate-dimension safety. */
class QuantizeSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = graft.engine.Graft.table(SparkT.spark, sfDir, "embeddings")

  test("reconstruction error is bounded by half a quantization step per dim") {
    val m = Quantize.train(emb, "embedding")
    val v = emb.select("embedding").as[Seq[Float]].head().toArray
    val codes = m.encode(v)
    v.indices.foreach { i =>
      val err = math.abs(m.dequantize(codes(i), i) - v(i))
      assert(err <= m.scale(i) * 0.5 + 1e-6, s"dim $i err $err")
    }
  }

  test("coarse+rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.train(emb, "embedding")
    val qdf = Quantize.encodeTable(emb, "embedding", "qvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val quant = Quantize.searchRescore(qdf, "embedding", "qvec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(quant === exact)
  }

  test("binarize packs the sign bits exactly; hamming matches brute force") {
    val m = Quantize.BModel(Array.fill(70)(0.0f)) // dim > 64 → 2 words
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val a = Array.fill(70)((rnd.nextFloat() - 0.5f) * 4)
      val b = Array.fill(70)((rnd.nextFloat() - 0.5f) * 4)
      val ca = m.binarize(a)
      val cb = m.binarize(b)
      assert(ca.length === 2)
      a.indices.foreach { i =>
        val bit = (ca(i >> 6) >>> (i & 63)) & 1L
        assert(bit === (if (a(i) > 0.0f) 1L else 0L), s"dim $i")
      }
      val want = a.indices.count(i => (a(i) > 0.0f) != (b(i) > 0.0f))
      assert(m.hamming(ca, cb) === want)
    }
  }

  test("hamming screen + rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.trainBinary(emb, "embedding")
    val bdf = Quantize.encodeTable(emb, "embedding", "bvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val bin = Quantize.searchRescore(bdf, "embedding", "bvec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(bin === exact)
  }

  test("residual-corrected screen is exact with fewer rescored candidates than raw Hamming") {
    val m = Quantize.trainBinary(emb, "embedding")
    val mr = Quantize.BResidual(m, "bres")
    val bdf = Quantize.encodeTable(emb, "embedding", "bvec", mr)
      .cache()
    val queries = emb.filter($"vec_id" < 8)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val refines = Seq(1, 2, 4, 8, 16, 32, 64)
    var hammingTotal = 0
    var residualTotal = 0
    queries.foreach { case (_, qv) =>
      val q = qv.toArray
      val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
        .select("vec_id").as[Long].collect().toSeq
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id").as[Long].collect().toSeq
      def minOk(run: Int => Seq[Long]) =
        refines.find(r => run(r) == exact).getOrElse(2 * refines.last)
      hammingTotal += minOk(r => ids(Quantize.searchRescore(
        bdf, "embedding", "bvec", "vec_id", m, q, 10, refine = r)))
      residualTotal += minOk(r => ids(Quantize.searchRescore(
        bdf, "embedding", "bvec", "vec_id", mr, q, 10, refine = r)))
    }
    // equal exactness, strictly smaller total candidate multiple
    assert(residualTotal < hammingTotal,
      s"residual needed $residualTotal vs hamming $hammingTotal")
    bdf.unpersist()
    // the stored factors are exactly ‖r‖ and the least-squares scale Σ|rᵢ|/d
    val v = emb.select("embedding").as[Seq[Float]].head().toArray
    val rs = v.indices.map(i => v(i).toDouble - m.thresholds(i))
    val (gotNorm, gotScale) = m.residualFactors(v)
    assert(math.abs(gotNorm - math.sqrt(rs.map(c => c * c).sum)) < 1e-4)
    assert(math.abs(gotScale - rs.map(math.abs).sum / v.length) < 1e-6)
  }

  test("4-bit packing roundtrips within half a step per dim (odd dim too)") {
    val rnd = new scala.util.Random(11)
    // odd dimension exercises the dangling low nibble of the last byte
    val dim = 33
    val vecs = Seq.fill(40)(Array.fill(dim)((rnd.nextFloat() - 0.5f) * 8))
    val mins = Array.tabulate(dim)(i => vecs.map(_(i)).min)
    val maxs = Array.tabulate(dim)(i => vecs.map(_(i)).max)
    val m = Quantize.Q4Model(mins, maxs)
    assert(m.bytes === 17)
    vecs.foreach { v =>
      val codes = m.encode(v)
      assert(codes.length === 17)
      v.indices.foreach { i =>
        val err = math.abs(m.dequantize(codes, i) - v(i))
        assert(err <= m.scale(i) * 0.5 + 1e-5, s"dim $i err $err")
      }
    }
  }

  test("4-bit coarse+rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.train4(emb, "embedding")
    val qdf = Quantize.encodeTable(emb, "embedding", "q4vec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val q4 = Quantize.searchRescore(qdf, "embedding", "q4vec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(q4 === exact)
  }

  test("appendSegment encodes with the existing model; compact retrains to the full corpus (I9 r11)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-quantseg")
    val path = tmp.resolve("qt").toString
    val build = emb.filter($"vec_id" % 10 =!= 7)
    val later = emb.filter($"vec_id" % 10 === 7)
    val m = Quantize.train(build, "embedding")
    graft.tables.Writer.write(
      Quantize.encodeTable(build, "embedding", "qvec", m), path,
      sortBy = Seq("vec_id"))
    Quantize.appendSegment(later, "embedding", "qvec", path, m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]]
      .head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    // mid-segment: the coarse screen reads every file; refine=16 absorbs
    // the clamp error of appended vectors outside the trained min/max
    val mid = Quantize.searchRescore(SparkT.spark.read.parquet(path),
        "embedding", "qvec", "vec_id", m, q, 10, refine = 16)
      .select("vec_id").as[Long].collect().toSeq
    assert(mid === exact)
    // the appended files hold exactly the fresh-encode codes (same model)
    val freshCodes = Quantize.encodeTable(later, "embedding", "qvec", m)
      .select("vec_id", "qvec").as[(Long, Array[Byte])].collect().toMap
    val storedCodes = SparkT.spark.read.parquet(path)
      .filter($"vec_id" % 10 === 7)
      .select("vec_id", "qvec").as[(Long, Array[Byte])].collect().toMap
    assert(storedCodes.keySet === freshCodes.keySet)
    assert(storedCodes.forall { case (k, v) =>
      java.util.Arrays.equals(v, freshCodes(k)) })
    // OPTIMIZE with retrain: the model refits the FULL corpus (min/max now
    // cover the appended rows — the per-dim error bound is restored)
    val m2 = Quantize.compact(SparkT.spark, path, "embedding", "qvec",
      "vec_id", m, retrain = true)
    val full = Quantize.train(emb, "embedding")
    assert(m2.mins.toSeq === full.mins.toSeq)
    assert(m2.maxs.toSeq === full.maxs.toSeq)
    val post = Quantize.searchRescore(SparkT.spark.read.parquet(path),
        "embedding", "qvec", "vec_id", m2, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(post === exact)
  }

  test("4-bit and binary families: append with frozen model, compact retrains (I9 r12)") {
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]]
      .head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val build = emb.filter($"vec_id" % 10 =!= 7)
    val later = emb.filter($"vec_id" % 10 === 7)

    // 4-bit: build(90%) → appendSegment → compact(retrain)
    val p4 = java.nio.file.Files.createTempDirectory("graft-q4seg")
      .resolve("q4t").toString
    val m4 = Quantize.train4(build, "embedding")
    graft.tables.Writer.write(
      Quantize.encodeTable(build, "embedding", "q4vec", m4), p4,
      sortBy = Seq("vec_id"))
    Quantize.appendSegment(later, "embedding", "q4vec", p4, m4)
    val mid4 = Quantize.searchRescore(SparkT.spark.read.parquet(p4),
        "embedding", "q4vec", "vec_id", m4, q, 10, refine = 24)
      .select("vec_id").as[Long].collect().toSeq
    assert(mid4 === exact)
    val m4b = Quantize.compact(SparkT.spark, p4, "embedding", "q4vec",
      "vec_id", m4, retrain = true)
    val full4 = Quantize.train4(emb, "embedding")
    assert(m4b.mins.toSeq === full4.mins.toSeq)
    assert(m4b.maxs.toSeq === full4.maxs.toSeq)
    val post4 = Quantize.searchRescore(SparkT.spark.read.parquet(p4),
        "embedding", "q4vec", "vec_id", m4b, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(post4 === exact)

    // binary: build(90%) → appendSegment → compact(retrain)
    val pb = java.nio.file.Files.createTempDirectory("graft-qbseg")
      .resolve("qbt").toString
    val mb = Quantize.trainBinary(build, "embedding")
    graft.tables.Writer.write(
      Quantize.encodeTable(build, "embedding", "bvec", mb), pb,
      sortBy = Seq("vec_id"))
    Quantize.appendSegment(later, "embedding", "bvec", pb, mb)
    val midB = Quantize.searchRescore(SparkT.spark.read.parquet(pb),
        "embedding", "bvec", "vec_id", mb, q, 10, refine = 32)
      .select("vec_id").as[Long].collect().toSeq
    assert(midB === exact)
    val mbb = Quantize.compact(SparkT.spark, pb, "embedding", "bvec",
      "vec_id", mb, retrain = true)
    val fullB = Quantize.trainBinary(emb, "embedding")
    assert(mbb.thresholds.toSeq === fullB.thresholds.toSeq)
    val postB = Quantize.searchRescore(SparkT.spark.read.parquet(pb),
        "embedding", "bvec", "vec_id", mbb, q, 10, refine = 32)
      .select("vec_id").as[Long].collect().toSeq
    assert(postB === exact)

    // binary residual: compact drops and re-encodes BOTH the bits and the
    // factor column the codec owns
    val pr = java.nio.file.Files.createTempDirectory("graft-qrseg")
      .resolve("qrt").toString
    val mr = Quantize.BResidual(mb, "bres")
    graft.tables.Writer.write(
      Quantize.encodeTable(build, "embedding", "bvec", mr), pr,
      sortBy = Seq("vec_id"))
    Quantize.appendSegment(later, "embedding", "bvec", pr, mr)
    val mrb = Quantize.compact(SparkT.spark, pr, "embedding", "bvec",
      "vec_id", mr, retrain = true)
    assert(mrb.rCol === "bres")
    assert(mrb.bits.thresholds.toSeq === fullB.thresholds.toSeq)
    val compacted = SparkT.spark.read.parquet(pr)
    assert(compacted.columns.count(c => c == "bvec" || c == "bres") === 2)
    assert(VectorIndexCheck.checkCodec(SparkT.spark, pr, "embedding", "bvec",
      "vec_id", mrb).ok)
    val postR = Quantize.searchRescore(compacted, "embedding", "bvec",
        "vec_id", mrb, q, 10, refine = 32)
      .select("vec_id").as[Long].collect().toSeq
    assert(postR === exact)
  }

  test("zero-range dimensions quantize without dividing by zero") {
    val df = Seq((1L, Array(1.0f, 5.0f)), (2L, Array(1.0f, 7.0f))).toDF("id", "v")
    val m = Quantize.train(df, "v")
    assert(m.scale(0) === 1.0f) // degenerate dim pinned
    val codes = m.encode(Array(1.0f, 6.0f))
    assert(m.dequantize(codes(0), 0) === 1.0f)
  }

  test("PQ: adc equals the reconstruction distance; codes are m bytes") {
    val m = Quantize.trainPq(emb, "embedding", "vec_id", m = 8, k = 16)
    assert(m.dim === 64 && m.subDim === 8)
    val rows = emb.orderBy($"vec_id").limit(5)
      .select("embedding").as[Seq[Float]].collect().map(_.toArray)
    val q = rows(0)
    val table = m.adcTable(q)
    rows.foreach { v =>
      val codes = m.encode(v)
      assert(codes.length === 8)
      // reconstruction: concatenate the assigned centroids
      val rec = Array.tabulate(m.dim)(i =>
        m.codebooks(i / m.subDim)(codes(i / m.subDim) & 0xff)(i % m.subDim))
      val want = math.sqrt(q.indices.map(i =>
        (q(i) - rec(i)).toDouble * (q(i) - rec(i))).sum)
      assert(math.abs(m.adc(codes, table) - want) < 1e-6)
    }
  }

  test("PQ: training is invariant to input partitioning") {
    val a = Quantize.trainPq(emb, "embedding", "vec_id")
    val b = Quantize.trainPq(emb.repartition(7), "embedding", "vec_id")
    assert(a.codebooks.flatten.flatten.toSeq === b.codebooks.flatten.flatten.toSeq)
  }

  test("PQ: ADC screen + rescore equals the exact fullscan top-k on the fixture") {
    val m = Quantize.trainPq(emb, "embedding", "vec_id")
    val qdf = Quantize.encodeTable(emb, "embedding", "pqvec", m)
    val q = emb.where($"vec_id" === 0).select("embedding").as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    // PQ's default refine (32)
    assert(m.defaultRefine === 32)
    val pq = Quantize.searchRescore(qdf, "embedding", "pqvec", "vec_id",
        m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(pq === exact)
  }

  test("PQ: appended segment encodes with the frozen codebooks and is searchable") {
    val dir = java.nio.file.Files.createTempDirectory("pqseg").toString + "/t"
    val build = emb.where($"vec_id" % 10 =!= 9L)
    val append = emb.where($"vec_id" % 10 === 9L)
    val m = Quantize.trainPq(build, "embedding", "vec_id")
    Quantize.encodeTable(build, "embedding", "pqvec", m)
      .write.parquet(dir)
    Quantize.appendSegment(append, "embedding", "pqvec", dir, m)
    val q = emb.where($"vec_id" === 9L).select("embedding").as[Seq[Float]]
      .head().toArray
    val got = Quantize.searchRescore(SparkT.spark.read.parquet(dir),
        "embedding", "pqvec", "vec_id", m, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
    assert(got.head === 9L) // the appended vector itself is the 0-distance hit
    // compact with retrain refits the codebooks to the full corpus
    val m2 = Quantize.compact(SparkT.spark, dir, "embedding", "pqvec",
      "vec_id", m, retrain = true)
    val full = Quantize.trainPq(emb, "embedding", "vec_id")
    assert(m2.codebooks.flatten.flatten.toSeq ===
      full.codebooks.flatten.flatten.toSeq)
    assert(Quantize.searchRescore(SparkT.spark.read.parquet(dir),
        "embedding", "pqvec", "vec_id", m2, q, 10)
      .select("vec_id").as[Long].collect().toSeq === exact)
  }

  test("screened batch joins: all four flat families equal the exact knn join at generous refine (r15)") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    def run(got: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val s = got.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
      assert(s === exact, label)
    }
    val m8 = Quantize.train(corpus, "embedding")
    val q8 = Quantize.encodeTable(corpus, "embedding", "qvec", m8)
    run(Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 32),
      "int8")
    // partition invariance of the kernel: heaps cut per partition, the
    // global cut and id tiebreaks make the result layout-independent
    run(Quantize.knnJoin(q8.repartition(7), "embedding", "qvec",
      "vec_id", m8, queriesDf, "query_id", "embedding", "corpus_id", 5,
      refine = 32), "int8 repartitioned")
    val m4 = Quantize.train4(corpus, "embedding")
    val q4 = Quantize.encodeTable(corpus, "embedding", "q4vec", m4)
    run(Quantize.knnJoin(q4, "embedding", "q4vec", "vec_id", m4,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 48),
      "4-bit")
    val mb = Quantize.trainBinary(corpus, "embedding")
    val bdf = Quantize.encodeTable(corpus, "embedding", "bvec", mb)
    run(Quantize.knnJoin(bdf, "embedding", "bvec", "vec_id", mb,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 96),
      "binary hamming")
    val mr = Quantize.BResidual(mb, "rfac")
    val rdf = Quantize.encodeTable(corpus, "embedding", "bvec", mr)
    run(Quantize.knnJoin(rdf, "embedding", "bvec", "vec_id", mr,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 32),
      "binary residual")
    val mpq = Quantize.trainPq(corpus, "embedding", "vec_id")
    val qpq = Quantize.encodeTable(corpus, "embedding", "pqvec", mpq)
    // PQ's ADC ranking is the coarsest of the four — at refine=32 a few
    // true top-5 members fall outside the 160-candidate coarse set on
    // this fixture, so its exactness threshold sits higher
    run(Quantize.knnJoin(qpq, "embedding", "pqvec", "vec_id", mpq,
      queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 64),
      "pq")
  }

  // ─────── cosine serving for the flat families (r18, VERDICT r17 #2) ───────

  test("cosine: every flat family's screen+rescore equals the exact cosine top-k") {
    val q = emb.where($"vec_id" === 3).select("embedding")
      .as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10, Knn.Cosine)
      .select("vec_id").as[Long].collect().toSeq
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    // int8: normalized-companion codes, exact cosine rescore on raw floats
    val m8 = Quantize.train(emb, "embedding", Knn.Cosine)
    val q8 = Quantize.encodeTable(emb, "embedding", "qvec", m8)
    assert(ids(Quantize.searchRescore(q8, "embedding", "qvec", "vec_id",
      m8, q, 10, Knn.Cosine)) === exact, "int8")
    // 4-bit
    val m4 = Quantize.train4(emb, "embedding", Knn.Cosine)
    val q4 = Quantize.encodeTable(emb, "embedding", "q4vec", m4)
    assert(ids(Quantize.searchRescore(q4, "embedding", "q4vec", "vec_id",
      m4, q, 10, Knn.Cosine, refine = 24)) === exact, "4-bit")
    // binary (plain Hamming screen over normalized-space sign bits)
    val mb = Quantize.trainBinary(emb, "embedding", Knn.Cosine)
    val bdf = Quantize.encodeTable(emb, "embedding", "bvec", mb)
    assert(ids(Quantize.searchRescore(bdf, "embedding", "bvec",
      "vec_id", mb, q, 10, Knn.Cosine, refine = 24)) === exact, "binary")
    // binary residual-corrected: the L2² estimator lives in the
    // normalized space, where its order IS the cosine order
    val mr = Quantize.BResidual(mb, "rfac")
    val rdf = Quantize.encodeTable(emb, "embedding", "bvec", mr)
    assert(ids(Quantize.searchRescore(rdf, "embedding",
      "bvec", "vec_id", mr, q, 10, refine = 16,
      metric = Knn.Cosine)) === exact, "binary residual")
    // flat PQ
    val mpq = Quantize.trainPq(emb, "embedding", "vec_id",
      metric = Knn.Cosine)
    val qpq = Quantize.encodeTable(emb, "embedding", "pqvec", mpq)
    assert(ids(Quantize.searchRescore(qpq, "embedding", "pqvec",
      "vec_id", mpq, q, 10, Knn.Cosine, refine = 24)) === exact, "pq")
  }

  test("cosine: screened batch joins equal the exact cosine knn join") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5,
        Knn.Cosine)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    def run(got: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val s = got.select("query_id", "corpus_id", "rn")
        .as[(Long, Long, Int)].collect().toSet
      assert(s === exact, label)
    }
    val m8 = Quantize.train(corpus, "embedding", Knn.Cosine)
    val q8 = Quantize.encodeTable(corpus, "embedding", "qvec", m8)
    run(Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
      queriesDf, "query_id", "embedding", "corpus_id", 5, Knn.Cosine,
      refine = 48), "int8 cosine")
    val mb = Quantize.trainBinary(corpus, "embedding", Knn.Cosine)
    val mr = Quantize.BResidual(mb, "rfac")
    val rdf = Quantize.encodeTable(corpus, "embedding", "bvec", mr)
    run(Quantize.knnJoin(rdf, "embedding", "bvec", "vec_id", mr,
      queriesDf, "query_id", "embedding", "corpus_id", 5, Knn.Cosine,
      refine = 48), "binary residual cosine")
  }

  // ───── inner-product serving via the MIPS→L2 augmentation (r18) ─────

  test("inner-product: every flat family screens through the augmented space and matches the exact IP top-k") {
    val q = emb.where($"vec_id" === 5).select("embedding")
      .as[Seq[Float]].head().toArray
    val exact = Knn.knn(emb, "embedding", "vec_id", q, 10, Knn.IP)
      .select("vec_id").as[Long].collect().toSeq
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").as[Long].collect().toSeq
    // int8: stats/codes live in the (dim+1)-wide augmented space
    val m8 = Quantize.train(emb, "embedding", Knn.IP)
    assert(m8.dim === 65 && m8.ipMaxNorm > 0.0f)
    val q8 = Quantize.encodeTable(emb, "embedding", "qvec", m8)
    assert(ids(Quantize.searchRescore(q8, "embedding", "qvec", "vec_id",
      m8, q, 10, Knn.IP, refine = 16)) === exact, "int8")
    // 4-bit
    val m4 = Quantize.train4(emb, "embedding", Knn.IP)
    val q4 = Quantize.encodeTable(emb, "embedding", "q4vec", m4)
    assert(ids(Quantize.searchRescore(q4, "embedding", "q4vec", "vec_id",
      m4, q, 10, Knn.IP, refine = 24)) === exact, "4-bit")
    // binary plain + residual-corrected (the L2² estimate in the
    // augmented space is monotone in the inner product per query)
    val mb = Quantize.trainBinary(emb, "embedding", Knn.IP)
    val bdf = Quantize.encodeTable(emb, "embedding", "bvec", mb)
    assert(ids(Quantize.searchRescore(bdf, "embedding", "bvec",
      "vec_id", mb, q, 10, Knn.IP, refine = 32)) === exact, "binary")
    val mr = Quantize.BResidual(mb, "rfac")
    val rdf = Quantize.encodeTable(emb, "embedding", "bvec", mr)
    assert(ids(Quantize.searchRescore(rdf, "embedding",
      "bvec", "vec_id", mr, q, 10, refine = 16,
      metric = Knn.IP)) === exact, "binary residual")
    // flat PQ: the augmented dim (65) picks a compatible subspace count
    val mpq = Quantize.trainPq(emb, "embedding", "vec_id", m = 5,
      metric = Knn.IP)
    val qpq = Quantize.encodeTable(emb, "embedding", "pqvec", mpq)
    assert(ids(Quantize.searchRescore(qpq, "embedding", "pqvec",
      "vec_id", mpq, q, 10, Knn.IP, refine = 24)) === exact, "pq")
  }

  test("inner-product: augmentation geometry — max-norm row binds to zero, order is exactly monotone") {
    val m8 = Quantize.train(emb, "embedding", Knn.IP)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().map { case (id, v) => (id, v.toArray) }
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val maxRow = rows.maxBy(r => norm(r._2))._2
    assert(math.abs(norm(maxRow) - m8.ipMaxNorm) < 1e-4)
    // the max-norm row's augmented coordinate is (near) zero; every
    // bound row has norm (near) M — the isometry onto the sphere
    rows.take(50).foreach { case (_, v) =>
      val b = m8.bindCorpus(v)
      assert(b.length === v.length + 1)
      assert(math.abs(norm(b) - m8.ipMaxNorm) <= 1e-3 * m8.ipMaxNorm)
    }
    // exact order equivalence: augmented-L2 rank == IP rank for a query
    val q = rows.find(_._1 == 9L).get._2
    val bq = m8.bindQuery(q)
    def l2(a: Array[Float], b: Array[Float]) =
      math.sqrt(a.indices.map(i => (a(i).toDouble - b(i)) *
        (a(i).toDouble - b(i))).sum)
    def ip(a: Array[Float], b: Array[Float]) =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    val byL2 = rows.map { case (id, v) => (l2(m8.bindCorpus(v), bq), id) }
      .sortBy(t => (t._1, t._2)).map(_._2).take(20)
    val byIp = rows.map { case (id, v) => (1.0 - ip(v, q), id) }
      .sortBy(t => (t._1, t._2)).map(_._2).take(20)
    assert(byL2 === byIp)
  }

  test("inner-product: screened batch join equals the exact IP knn join") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5, Knn.IP)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val m8 = Quantize.train(corpus, "embedding", Knn.IP)
    val q8 = Quantize.encodeTable(corpus, "embedding", "qvec", m8)
    val got = Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
        queriesDf, "query_id", "embedding", "corpus_id", 5, Knn.IP,
        refine = 48)
      .select("query_id", "corpus_id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === exact)
  }

  test("cosine: metric mismatch between model and serving call is rejected") {
    val mL2 = Quantize.train(emb, "embedding")
    val qdf = Quantize.encodeTable(emb, "embedding", "qvec", mL2)
    val q = Array.fill(64)(0.1f)
    // an L2-trained model cannot serve cosine (codes live in raw space)
    assertThrows[IllegalArgumentException] {
      Quantize.searchRescore(qdf, "embedding", "qvec", "vec_id", mL2, q,
        5, Knn.Cosine)
    }
    // a cosine-trained model cannot serve L2 either
    val mCos = Quantize.train(emb, "embedding", Knn.Cosine)
    assertThrows[IllegalArgumentException] {
      Quantize.searchRescore(qdf, "embedding", "qvec", "vec_id", mCos, q,
        5, Knn.L2)
    }
    // IP over an L2 model is a mismatch too (IP serves through its own
    // augmented-space model — train with metric = IP)
    assertThrows[IllegalArgumentException] {
      Quantize.knnJoin(qdf, "embedding", "qvec", "vec_id", mL2,
        emb.select($"vec_id".as("qid"), $"embedding".as("qv")),
        "qid", "qv", "vec_id", 5, Knn.IP)
    }
  }

  test("cosine: append with the frozen cosine model encodes in the normalized space (I9)") {
    // the appended batch rides the SAME encode() the build used — the
    // internal normalization means drifted RAW magnitudes cannot move a
    // cosine code (scale invariance carries into the codes)
    val m8 = Quantize.train(emb, "embedding", Knn.Cosine)
    val v = emb.where($"vec_id" === 7).select("embedding")
      .as[Seq[Float]].head().toArray
    val scaled = v.map(_ * 37.5f)
    assert(m8.encode(v).toSeq === m8.encode(scaled).toSeq)
    val mb = Quantize.trainBinary(emb, "embedding", Knn.Cosine)
    assert(mb.binarize(v).toSeq === mb.binarize(scaled).toSeq)
  }

  test("screened join at low refine: coarse economy keeps high recall (r15)") {
    // The accuracy/cost knob: a tight refine screens far fewer candidates
    // into the rescore; on the fixture the int8 coarse ranking is close
    // enough to true that recall stays >= 0.9.
    val corpus = emb.filter($"vec_id" >= 10)
    val queriesDf = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding")
    val exact = Knn.knnJoin(queriesDf,
        corpus.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k = 5)
      .select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    val m8 = Quantize.train(corpus, "embedding")
    val q8 = Quantize.encodeTable(corpus, "embedding", "qvec", m8)
    val got = Quantize.knnJoin(q8, "embedding", "qvec", "vec_id", m8,
        queriesDf, "query_id", "embedding", "corpus_id", 5, refine = 2)
      .select("query_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"refine=2 recall $recall")
  }

  test("k·refine past Int.MaxValue clamps: flat search and join equal the exact answers") {
    // k = 3·10⁸ with refine 8 wraps negative in Int; the 100-row table
    // makes the exact answer every row
    val small = emb.filter($"vec_id" < 100)
    val queriesDf = small.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val q = small.where($"vec_id" === 3).select("embedding")
      .as[Seq[Float]].head().toArray
    val k = 300000000
    val m = Quantize.train(small, "embedding")
    val t = Quantize.encodeTable(small, "embedding", "qvec", m)
    val exact = Knn.knn(small, "embedding", "vec_id", q, k)
      .select("vec_id").as[Long].collect().toSeq
    assert(exact.size === 100)
    assert(Quantize.searchRescore(t, "embedding", "qvec", "vec_id", m, q, k,
        refine = 8).select("vec_id").as[Long].collect().toSeq === exact)
    val exactJ = Knn.knnJoin(queriesDf,
        small.select($"vec_id".as("corpus_id"), $"embedding"),
        "query_id", "embedding", "corpus_id", "embedding", k)
      .select("query_id", "corpus_id", "rn").as[(Long, Long, Int)]
      .collect().toSet
    assert(exactJ.size === 300)
    assert(Quantize.knnJoin(t, "embedding", "qvec", "vec_id", m, queriesDf,
        "query_id", "embedding", "corpus_id", k, refine = 8)
      .select("query_id", "corpus_id", "rn").as[(Long, Long, Int)]
      .collect().toSet === exactJ)
  }

  // ───── bit-identical pins: every codec × metric ─────
  //
  // Pinned per (codec, metric) on the fixture (corpus vec_id >= 8,
  // queries vec_id < 8, query vector vec_id 3, refine 3 so the screen
  // decides): order-sensitive fingerprints of the coarse ids (n = 24), of
  // the searchRescore (id, dist) rows (k = 10) and of the knnJoin
  // (query, corpus, dist, rn) rows (k = 5). Recorded with the earlier
  // per-codec functions (quantizeTable/coarseIds4/searchHammingRescore/
  // knnJoinPq and kin), so the shared screen must return the identical
  // rows and distances bit for bit, not merely equally good ones.

  private def pinFp(xs: Iterator[(Double, Long)]): Long =
    xs.foldLeft(1125899906842597L) { case (h, (d, i)) =>
      (h * 31 + java.lang.Double.doubleToLongBits(d)) * 31 + i }

  private val Pins: Seq[((String, Knn.Metric), (Long, Long, Long))] = Seq(
    ("int8", Knn.L2) -> (-4266418984390974570L, 2473981605808722887L, -8011467875936149752L),
    ("4bit", Knn.L2) -> (-8856392918054580372L, 2473981605808722887L, -8011467875936149752L),
    ("binary", Knn.L2) -> (7254239636355473574L, -4267620218303574394L, -317664536228904684L),
    ("binres", Knn.L2) -> (-1657143748875403016L, -3186185671859389424L, 9162009076998691350L),
    ("pq", Knn.L2) -> (-661855459352836525L, -8747515769051964805L, 2087948000663091116L),
    ("int8", Knn.IP) -> (-4266418984390974570L, -1720904259465021444L, 8377250842752415009L),
    ("4bit", Knn.IP) -> (-8856392918054580372L, -1720904259465021444L, 8377250842752415009L),
    ("binary", Knn.IP) -> (2373764549928753495L, 8852313442676949807L, -4101536841821982013L),
    ("binres", Knn.IP) -> (-1657143748875403016L, -7347159514314143620L, 8076103173555679175L),
    ("pq", Knn.IP) -> (4993776514938047997L, 3914986207586319940L, 4940314333470284244L),
    ("int8", Knn.Cosine) -> (-4266418984390974570L, 4162110796453833979L, -1856869622611927232L),
    ("4bit", Knn.Cosine) -> (-8856392918054580372L, 4162110796453833979L, -1856869622611927232L),
    ("binary", Knn.Cosine) -> (7254239636355473574L, 5315091378505951756L, 6756505027486711383L),
    ("binres", Knn.Cosine) -> (-1657143748875403016L, -2192654650979273749L, 1910246642612739981L),
    ("pq", Knn.Cosine) -> (-661855459352836525L, 7243957557463481918L, -4866998522965054404L))

  Pins.foreach { case ((codec, metric), pin) =>
    test(s"pins: $codec × $metric coarse ids, search and join are bit-identical") {
      val corpus = emb.filter($"vec_id" >= 8)
      val queriesDf = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding")
      val q = emb.where($"vec_id" === 3).select("embedding")
        .as[Seq[Float]].head().toArray
      val c: Quantize.FlatCodec = codec match {
        case "int8" => Quantize.train(corpus, "embedding", metric)
        case "4bit" => Quantize.train4(corpus, "embedding", metric)
        case "binary" => Quantize.trainBinary(corpus, "embedding", metric)
        case "binres" => Quantize.BResidual(
          Quantize.trainBinary(corpus, "embedding", metric), "fac")
        case "pq" => Quantize.trainPq(corpus, "embedding", "vec_id",
          m = if (metric == Knn.IP) 5 else 8, metric = metric)
      }
      val t = Quantize.encodeTable(corpus, "embedding", "code", c)
      val coarse = pinFp(Quantize.coarseIds(t, "code", "vec_id", c, q, 24)
        .select("vec_id").as[Long].collect().iterator.map(i => (0.0, i)))
      val search = pinFp(Quantize.searchRescore(t, "embedding", "code",
          "vec_id", c, q, 10, metric, refine = 3)
        .select("vec_id", "dist").as[(Long, Double)].collect()
        .iterator.map(r => (r._2, r._1)))
      val join = pinFp(Quantize.knnJoin(t, "embedding", "code", "vec_id", c,
          queriesDf, "query_id", "embedding", "corpus_id", 5, metric,
          refine = 3)
        .select("query_id", "corpus_id", "dist", "rn")
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
        .iterator.map(r => (r._3, r._1 * 100000 + r._2 * 16 + r._4)))
      assert((coarse, search, join) === pin)
    }
  }
}
