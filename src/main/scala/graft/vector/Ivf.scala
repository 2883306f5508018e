package graft.vector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, In, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.index.Commit
import graft.index.Commit.resolve

/** IVF (inverted-file) ANN index — the partitioned scale path behind the
  * exact scoreAndTopK (SURVEY §2.5 K1/K6 design space; the reference ships
  * HNSW, knn/knn.cpp:221 — IVF is the Spark-shaped equivalent because its
  * two phases map onto Spark primitives: a coarse quantizer assigns each
  * vector to a centroid list, and search scans only the `nprobe` closest
  * lists).
  *
  * Layout: the index is the base table + an `ivf_cluster` column, written
  * range-clustered by cluster id (tables/Writer) — so a probe of p of n
  * lists reads ~p/n of the files (file/row-group pruning on a long column),
  * the exact analog of the reference reading one HNSW layer instead of the
  * flat store.
  *
  * Search cost model: fullscan evaluates N distances; IVF evaluates
  * nlist + N*nprobe/nlist. [[Knn.shouldUseFullscan]] stays the routing seam
  * (knn/knn.cpp:613-620): selective attribute filters bypass the index.
  *
  * Exactness contract: nprobe = nlist degenerates to an exact (but
  * file-pruned) scan — the oracle-checked configuration; recall at
  * nprobe < nlist is data-dependent and spec-tested on clustered data.
  */
object Ivf {

  /** `ipMaxNorm` is the MIPS→L2 augmentation bound M (r19): an IP-metric
    * model's centroids live in the AUGMENTED space [v, √(M²−‖v‖²)] —
    * k-means under raw 1−dot is degenerate (every point gravitates to the
    * largest-norm centroid), while augmented-L2 k-means is the published
    * reduction (Bachrach et al. 2014) and gives probe order a true metric
    * geometry. 0 for L2/cosine models. */
  final case class Model(centroids: Seq[Array[Float]], metric: Knn.Metric,
                         ipMaxNorm: Float = 0.0f) {
    def nlist: Int = centroids.size
    /** Driver-side centroid distances for a query (nlist is small). IP
      * orders by augmented-space L2 — queries bind as [q, 0], so the
      * order is the geometry the lists were clustered in. */
    def probeOrder(q: Array[Float]): Seq[Int] = {
      val (bq, met) =
        if (metric == Knn.IP) (Quantize.bindQuerySide(Knn.IP, q), Knn.L2)
        else (q, metric)
      centroids.zipWithIndex.map { case (c, i) =>
        (Ivf.scalarDist(met, bq, c), i)
      }.sortBy(_._1).map(_._2)
    }
    /** The `nprobe` nearest list ids, ASCENDING — the form probe `IN`
      * filters take: two queries that probe the same set then plan the
      * same literal list and reuse one compiled filter, where probe order
      * would compile a new class per query. */
    def probeSet(q: Array[Float], nprobe: Int): Seq[Long] = {
      // an empty probe set would silently answer every top-k with 0 rows
      require(nprobe >= 1, s"nprobe $nprobe < 1")
      probeOrder(q).take(nprobe).sorted.map(_.toLong)
    }
  }

  private[graft] def scalarDist(metric: Knn.Metric, a: Array[Float],
                                b: Array[Float]): Double = metric match {
    case Knn.L2 =>
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      math.sqrt(acc)
    case Knn.IP =>
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      1.0 - acc
    case Knn.Cosine =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      1.0 - (if (den == 0.0) 0.0 else dot / den)
  }

  /** Distance from a vector column to each centroid (expression tree over a
    * broadcast literal centroid table). An IP model's centroids live in
    * the augmented space, so rows bind corpus-side and distances are L2
    * there (the space the lists were clustered in). */
  private def distArray(vec: org.apache.spark.sql.Column, m: Model) = {
    val cents = typedLit(m.centroids.map(_.toSeq))
    val (bvec, met) =
      if (m.metric == Knn.IP)
        (Quantize.boundSpaceCol(Knn.IP, vec,
          m.ipMaxNorm.toDouble * m.ipMaxNorm), Knn.L2)
      else (vec, m.metric)
    transform(sequence(lit(1), lit(m.nlist)), i =>
      Knn.distCol(met, bvec, element_at(cents, i).cast("array<float>")))
  }

  /** QUERY-side [[distArray]]: identical for L2/cosine, but an IP model's
    * queries bind as [q, 0] (never [q, √(M²−‖q‖²)] — the corpus-side
    * augmentation; [[Quantize.bindQuerySide]] is the scalar twin). */
  private def distArrayQuery(vec: org.apache.spark.sql.Column, m: Model) =
    if (m.metric != Knn.IP) distArray(vec, m)
    else {
      val cents = typedLit(m.centroids.map(_.toSeq))
      val bvec = concat(vec, array(lit(0.0f)))
      transform(sequence(lit(1), lit(m.nlist)), i =>
        Knn.distCol(Knn.L2, bvec, element_at(cents, i).cast("array<float>")))
    }

  /** Nearest-centroid id (0-based) for each row. */
  def assign(df: DataFrame, vecCol: String, m: Model): DataFrame = {
    val d = distArray(col(vecCol), m)
    df.withColumn("ivf_cluster",
      (array_position(d, array_min(d)) - 1).cast("long"))
  }

  /** Train a coarse quantizer: deterministic seed pick (smallest
    * xxhash64(vector) rows, a bounded TakeOrdered) + Lloyd iterations
    * executed as DataFrame jobs. The update step accumulates per-(cluster)
    * sum/count ARRAYS per partition and folds numPartitions×nlist small
    * rows on the driver — never a posexplode, which would shuffle
    * n×dim rows (a 64-1024× blowup at 100 TB) per iteration. */
  def train(df: DataFrame, vecCol: String, nlist: Int,
            metric: Knn.Metric = Knn.L2, iters: Int = 2): Model = {
    // IP (r19): k-means in the MIPS→L2 augmented space — one max-agg for
    // M, then the L2 training loop verbatim over the bound column; the
    // returned model carries metric=IP + M so assign/probeOrder bind
    // rows/queries into the same space internally.
    if (metric == Knn.IP) {
      val m2 = maxSumsq(df, vecCol)
      val bcol = "__vaug_train"
      val bound = df.withColumn(bcol,
        Quantize.boundSpaceCol(Knn.IP, col(vecCol), m2))
      val l2 = train(bound, bcol, nlist, Knn.L2, iters)
      return Model(l2.centroids, Knn.IP, math.sqrt(m2).toFloat)
    }
    import df.sparkSession.implicits._
    val seeds = df.select(col(vecCol)).orderBy(xxhash64(col(vecCol)))
      .limit(nlist).collect().map(_.getSeq[Float](0).toArray).toSeq
    var m = Model(seeds, metric)
    (0 until iters).foreach { _ =>
      val partials = assign(df, vecCol, m)
        .select(col("ivf_cluster"), col(vecCol))
        .as[(Long, Seq[Float])]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val acc = scala.collection.mutable.LongMap.empty[(Array[Double], Long)]
          it.foreach { case (c, v) =>
            val (s, n) = acc.getOrElseUpdate(c, (new Array[Double](v.length), 0L))
            var i = 0
            while (i < s.length) { s(i) += v(i); i += 1 }
            acc(c) = (s, n + 1)
          }
          acc.iterator.map { case (c, (s, n)) => (pid, c, s, n) }
        }.collect().sortBy(p => (p._2, p._1)) // (cluster, partition): fixed fold order
      val byCluster = partials.groupBy(_._2)
      val next = m.centroids.indices.map { c =>
        byCluster.get(c.toLong) match {
          case Some(rows) =>
            val dim = rows.head._3.length
            val sum = new Array[Double](dim)
            rows.foreach { case (_, _, s, _) =>
              var i = 0
              while (i < dim) { sum(i) += s(i); i += 1 }
            }
            val n = rows.map(_._4).sum
            sum.map(x => (x / n).toFloat)
          case None => m.centroids(c) // empty list keeps its centroid
        }
      }
      m = Model(next, metric)
    }
    m
  }

  /** Write the index: assigned rows range-clustered by list id, so probes
    * prune files. */
  def buildIndex(df: DataFrame, vecCol: String, m: Model, path: String,
                 files: Int = 4): Unit = {
    // a rebuild at the base path of a [[compact]]-managed index would be
    // invisible to readers (they resolve to the committed generation)
    Commit.requireUnmanaged(df.sparkSession, path, "Ivf.compact")
    graft.tables.Writer.write(assign(df, vecCol, m), path,
      sortBy = Seq("ivf_cluster"), files = files)
    // a REBUILT index invalidates any routing entry that cached the old
    // file listing (registration after build is the normal order; this
    // covers in-place rebuilds)
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
  }

  /** I9 for the vector index (ref RT segments share the trained quantizer
    * until a merge retrains): append a new batch under the EXISTING coarse
    * model — assign + write as additional files clustered by list id. The
    * append never reads the existing index; probes prune the new files the
    * same way, and [[listRadii]] stays current because it scans the index.
    * Model drift (a batch far from every centroid) degrades pruning
    * economy, not correctness — [[compact]] (optionally retraining) is the
    * manifest-committed OPTIMIZE. */
  def appendToIndex(df: DataFrame, vecCol: String, m: Model, path: String,
                    files: Int = 1): Unit = {
    assign(df, vecCol, m)
      .repartitionByRange(files, col("ivf_cluster"))
      .sortWithinPartitions(col("ivf_cluster"))
      // resolve: on a manifest-managed index the live data sits in the
      // current generation dir, not at the base path
      .write.mode("append").parquet(resolve(df.sparkSession, path))
    // routed queries cached the pre-append file listing — drop the entry
    // so they fall back to the exact fullscan until re-registration
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
  }

  /** I9 OPTIMIZE for the IVF index through the object-store-safe
    * generation commit every index family shares
    * ([[Commit.commitGeneration]] — an interrupted retrain + in-place
    * rebuild could otherwise leave a mixed directory): re-assign the FULL corpus — read from the index
    * itself, whose rows are the dataset — into a new generation,
    * optionally retraining the coarse model first (appended batches that
    * drifted from every centroid degrade pruning economy until a
    * retrain). Readers resolve through the manifest, so the swap is atomic
    * and every crash interleaving leaves a readable index; the previous
    * generation is retained one cycle.
    *
    * Returns the serving model — the caller re-registers the automatic
    * route with it (the epoch bump already dropped the old entry), and
    * derives fresh [[listRadii]] if the adaptive bound is in use. */
  def compact(spark: SparkSession, indexPath: String, vecCol: String,
              m: Model, retrain: Boolean = false, files: Int = 4): Model = {
    val m2 = Commit.commitGeneration(spark, indexPath) { (live, next) =>
      val corpus = spark.read.parquet(live).drop("ivf_cluster")
      // an IVF-ADC table must compact through [[compactPq]]: this path
      // would carry the ivf_pq column VERBATIM through a retrain, leaving
      // codes that are residuals of the SUPERSEDED centroids — silently
      // wrong screens (r17 audit)
      require(!corpus.columns.contains("ivf_pq"),
        s"$indexPath carries IVF-ADC codes (ivf_pq): compact it with " +
          "Ivf.compactPq, which re-encodes the residual codes in-generation")
      val m2 = if (retrain) train(corpus, vecCol, m.nlist, metric = m.metric)
               else m
      graft.tables.Writer.write(assign(corpus, vecCol, m2), next,
        sortBy = Seq("ivf_cluster"), files = files)
      m2
    }
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
    m2
  }

  /** Row-DELETION maintenance for the IVF families (the ANN analog of
    * [[graft.index.SecondaryIndex.deleteKeys]]; the reference re-derives
    * KNN indexes when their rows mutate — the RT segment flow,
    * knn/knn.cpp:638-786): rewrite the clustered table WITHOUT the rows
    * matching `pred` into a NEW manifest-committed generation. Survivor
    * rows carry their cluster assignment (and, on an IVF-ADC table,
    * their residual codes — both are per-row and deletion moves
    * nothing), so the cost is ONE filtered rewrite of index rows: the
    * coarse model never retrains, no distances recompute, and the fact
    * side is the caller's (delete there first — [[VectorIndexCheck]]'s
    * reconciliation catches the stale window). Probe order and
    * exactness are unaffected: probes simply see fewer rows. The commit
    * is [[compact]]'s ([[Commit.commitGeneration]]), so readers never
    * observe a half-deleted index; on an ADC table the serving-metric
    * marker rides into the new generation. */
  def deleteFromIndex(spark: SparkSession, indexPath: String,
                      pred: org.apache.spark.sql.Column,
                      files: Int = 4): Unit = {
    Commit.commitGeneration(spark, indexPath) { (live, next) =>
      graft.tables.Writer.write(
        spark.read.parquet(live).filter(!pred), next,
        sortBy = Seq("ivf_cluster"), files = files)
      // an ADC generation carries its serving-metric marker (searchPq and
      // appends check it at the RESOLVED dir — a markerless IP generation
      // would fail requireStoredMaxNorm loudly)
      val conf = spark.sparkContext.hadoopConfiguration
      val mk = new org.apache.hadoop.fs.Path(live, PqMetricMarker)
      val fs = mk.getFileSystem(conf)
      if (fs.exists(mk)) org.apache.hadoop.fs.FileUtil.copy(fs, mk, fs,
        new org.apache.hadoop.fs.Path(next, PqMetricMarker), false, conf)
    }
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
  }

  /** Top-k search probing the `nprobe` lists closest to the query.
    * nprobe = nlist ⇒ exact. */
  def search(spark: SparkSession, indexPath: String, m: Model,
             idCol: String, vecCol: String, query: Array[Float],
             k: Int, nprobe: Int): DataFrame = {
    val probes = m.probeSet(query, nprobe)
    val scanned = graft.engine.Graft.cachedRead(spark, indexPath)
      .filter(col("ivf_cluster").isin(probes: _*))
    Knn.knn(scanned, vecCol, idCol, query, k, m.metric)
  }

  // ------------------------------------------------------------------
  // IVF-ADC (residual product quantization — the IVFADC system of Jégou,
  // Douze & Schmid 2011 §IV, the published billion-vector layout): PQ
  // codebooks are trained on RESIDUALS v − centroid(list), so the M
  // bytes spend their precision on the within-list displacement (residual
  // energy ≪ vector energy once the coarse quantizer has localized the
  // point). Search probes the nprobe closest lists with ONE ADC table per
  // probed list — built from the query's residual against that list's
  // centroid — screens by M-lookup code scans, and exact-rescores the
  // k·refine survivors from the raw vectors stored in the same rows.
  // ||v − q|| = ||r_v − (q − c_list)||, so the per-list table over the
  // query residual estimates the true distance directly. The screen is
  // an L2 construction; COSINE serves through the normalized companion
  // space (r17 — the quantized-graph solution, ref knn/knn.h:32-37:
  // cosine = IP over normalized, served by every index type): train the
  // coarse model L2 over the UNIT-NORMALIZED vectors, assign/encode the
  // normalized rows, screen with the normalized query's residual tables
  // (normalized-L2 order == cosine order: cos dist of a unit pair is
  // half its squared L2), and exact-rescore with the cosine kernel on
  // raw floats.
  // ------------------------------------------------------------------

  /** Residual of each assigned row against its list centroid — a codegen
    * expression tree (zip_with over a broadcast literal centroid table),
    * no per-row driver lookup. */
  def residualCol(vec: org.apache.spark.sql.Column,
                  cluster: org.apache.spark.sql.Column,
                  m: Model): org.apache.spark.sql.Column = {
    val cents = typedLit(m.centroids.map(_.toSeq))
    zip_with(vec,
      element_at(cents, cluster.cast("int") + 1).cast("array<float>"),
      (a, b) => a - b).cast("array<float>")
  }

  /** Build the IVF-ADC index: coarse-assign, train residual PQ codebooks
    * on a deterministic bounded sample, store the M-byte codes alongside
    * the rows, range-clustered by list id (probes prune files exactly as
    * the plain IVF layout). Returns the residual codebooks — the caller
    * passes them to [[searchPq]]/[[appendToIndexPq]]. `metric` is the
    * SERVING metric (L2 or Cosine). For cosine, `m` must
    * be the L2 coarse model trained over the unit-normalized copy of
    * `vecCol` (the bound space — the [[searchAdaptiveCosine]] contract);
    * assignment, residuals, and codes all live there, while the stored
    * raw column serves the exact rescore. */
  def buildIndexPq(df: DataFrame, vecCol: String, idCol: String, m: Model,
                   path: String, subM: Int = 8, codeK: Int = 16,
                   files: Int = 4,
                   metric: Knn.Metric = Knn.L2): Quantize.PqModel = {
    requirePqMetric(m, metric)
    Commit.requireUnmanaged(df.sparkSession, path, "Ivf.compactPq")
    val ipM2 = if (metric == Knn.IP) maxSumsq(df, vecCol) else 0.0
    val (bound, bcol) = boundSide(df, vecCol, metric, ipM2)
    val assigned = assign(bound, bcol, m)
      .withColumn("ivf_res", residualCol(col(bcol), col("ivf_cluster"), m))
    val pq = Quantize.trainPq(assigned, "ivf_res", idCol, subM, codeK)
    val coded = Quantize.encodeTable(assigned, "ivf_res", "ivf_pq", pq)
      .drop("ivf_res", BoundCol)
    graft.tables.Writer.write(coded, path,
      sortBy = Seq("ivf_cluster"), files = files)
    writePqMetric(df.sparkSession, path, metric, math.sqrt(ipM2))
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
    pq
  }

  /** The one metric contract of the ADC family: the screen space is
    * always L2 (`m` trained L2 — over the normalized companion for
    * cosine, the MIPS→L2 augmented companion for IP); the serving metric
    * picks the binding (r18 adds IP through the Bachrach et al. 2014
    * augmentation, the [[Quantize.FlatCodec]] construction —
    * corpus [v, √(M²−‖v‖²)], query [q, 0], augmented-L2 order exactly
    * monotone in the inner product; M rides the index's metric marker so
    * appends bind with the BUILD's bound, never a re-estimate). */
  private def requirePqMetric(m: Model, metric: Knn.Metric): Unit = {
    require(m.metric == Knn.L2,
      "the IVF-ADC coarse model binds the L2 screen space (train it L2 — " +
        "over the unit-normalized vectors for cosine serving, the " +
        "augmented vectors for IP serving)")
  }

  private val BoundCol = "__ivf_bvec"

  // The SERVING metric is part of the IVF-ADC index's on-disk identity
  // (codes live in raw space for L2, normalized space for cosine): the
  // builder records it in a marker object inside the index dir
  // (underscore-prefixed — Parquet readers ignore it), and every
  // consumer CHECKS its metric argument against the marker (review
  // r17-2: an L2-default append onto a cosine-built index would
  // otherwise encode raw-space codes against normalized-space centroids
  // and silently return wrong neighbors). Pre-marker indexes (none in
  // the wild — the marker ships with the cosine support) pass unchecked.
  private val PqMetricMarker = "_GRAFT_IVFPQ_METRIC"

  private def metricName(m: Knn.Metric): String = m match {
    case Knn.L2 => "L2"
    case Knn.IP => "IP"
    case Knn.Cosine => "Cosine"
  }

  /** Marker layout: line 1 = metric name; line 2 (IP only) = the
    * augmentation bound M (max corpus norm at build/compact) — appends
    * must bind new rows with the BUILD's M, never a batch-local
    * re-estimate (codes of different M values would live in different
    * spaces). */
  private def writePqMetric(spark: SparkSession, dir: String,
                            metric: Knn.Metric,
                            ipMaxNorm: Double = 0.0): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, PqMetricMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val body = metricName(metric) +
      (if (metric == Knn.IP) s"\n$ipMaxNorm" else "") + "\n"
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    pqMetricCache.remove(dir) // a same-dir rebuild must re-read
  }

  // (resolved generation dir → stored (metric name, IP bound M)), None =
  // no marker: the marker is immutable within a generation, so the
  // exists+open+read — 2-3 metadata round-trips on an object store —
  // happens once per JVM per generation instead of on EVERY
  // searchPq/knnJoinPq/append call (ADVICE r17). Invalidation: compactPq
  // writes into a NEW generation dir (natural cache miss); a rebuild at
  // the same dir goes through [[writePqMetric]], which drops its entry;
  // and every index mutation clears the whole (tiny) map via
  // [[invalidatePqMetricCache]] from
  // [[graft.plans.AnnRouting.onIndexMutated]] — belt and braces.
  private val pqMetricCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[(String, Option[Double])]]

  private[graft] def invalidatePqMetricCache(): Unit = pqMetricCache.clear()

  private def pqMeta(spark: SparkSession, indexPath: String)
      : Option[(String, Option[Double])] = {
    val dir = resolve(spark, indexPath)
    pqMetricCache.getOrElseUpdate(dir, {
      val p = new org.apache.hadoop.fs.Path(dir, PqMetricMarker)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val lines =
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
            .split("\n").toSeq
          finally in.close()
        // a missing/garbled M line stays None — conflating it with an
        // explicit 0.0 would let an IP append silently bind a different
        // screen space than the build's codes ([[requireStoredMaxNorm]])
        Some((lines.head.trim,
          lines.lift(1).flatMap(_.trim.toDoubleOption)))
      }
    })
  }

  private[graft] def checkPqMetric(spark: SparkSession, indexPath: String,
                            metric: Knn.Metric): Unit =
    pqMeta(spark, indexPath).foreach { case (s, _) =>
      require(s == metricName(metric),
        s"IVF-ADC index $indexPath was built for metric $s; " +
          s"serving/appending it as ${metricName(metric)} would screen " +
          "in the wrong space — pass the build metric")
    }

  /** The stored IP augmentation bound M of an IP-built index, REQUIRED
    * present (may legitimately be 0.0 for an all-zero corpus): a lost or
    * truncated marker on an IP index must fail LOUDLY before an append/
    * frozen-compact binds new rows — encoding with a defaulted M=0 would
    * put them in a DIFFERENT screen space than the build's codes and
    * silently misrank them (the wrong-space contract [[checkPqMetric]]
    * enforces for the metric name applies to the bound too). */
  private def requireStoredMaxNorm(spark: SparkSession,
                                   indexPath: String): Double =
    pqMeta(spark, indexPath).flatMap(_._2).getOrElse(
      throw new IllegalStateException(
        s"IVF-ADC index $indexPath is bound as IP but its metric marker " +
          "is missing or carries no augmentation bound M — rebuild with " +
          "buildIndexPq (which writes the marker) or restore the marker " +
          "before appending/compacting; binding new rows with a default " +
          "M would encode a different screen space than the existing " +
          "codes"))

  /** (table with the bound-space column, its name): `vecCol` itself for
    * L2, a transient normalized companion for cosine, the transient
    * MIPS→L2 augmented companion [v, √(M²−‖v‖²)] for IP (`ipM2` = M² —
    * from a build-time max-agg or the stored marker; r18). The binding
    * expression is [[Quantize.boundSpaceCol]] — the ONE shared
    * construction the flat families' codes use, so the two families can
    * never drift into different augmented spaces. */
  private def boundSide(df: DataFrame, vecCol: String, metric: Knn.Metric,
                        ipM2: Double = 0.0): (DataFrame, String) =
    metric match {
      case Knn.L2 => (df, vecCol)
      case _ => (df.withColumn(BoundCol,
        Quantize.boundSpaceCol(metric, col(vecCol), ipM2)), BoundCol)
    }

  /** Transient MIPS→L2 augmented companion of `vecCol` as `augCol`
    * (r18): [v, √(M²−‖v‖²)] with M = the table's max norm — the column
    * an IP-served IVF-ADC coarse model trains over (the cosine analog is
    * [[normalized]]); the SAME deterministic max-agg [[buildIndexPq]]
    * runs, so a model trained here pairs with the codes it writes. */
  def ipAugmentedCompanion(df: DataFrame, vecCol: String,
                           augCol: String): DataFrame = {
    val (bound, bcol) = boundSide(df, vecCol, Knn.IP,
      maxSumsq(df, vecCol))
    bound.withColumnRenamed(bcol, augCol)
  }

  /** Max corpus ‖v‖² — the IP augmentation bound (one distributed
    * max-agg; 0 on an empty table). Shared with [[Quantize]]'s flat-model
    * training — ONE definition of the bound estimate. */
  private[vector] def maxSumsq(df: DataFrame, vecCol: String): Double = {
    val sumsq = aggregate(col(vecCol), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double"))
    df.select(max(sumsq)).head() match {
      case r if r.isNullAt(0) => 0.0
      case r => r.getDouble(0)
    }
  }

  /** Query-side screen-space binding for the ADC family — delegates to
    * the flat families' [[Quantize.bindQuerySide]] (one definition of
    * the metric transport on BOTH sides). */
  private def bindPqQuery(metric: Knn.Metric, q: Array[Float]): Array[Float] =
    Quantize.bindQuerySide(metric, q)

  /** I9 append for the IVF-ADC index: assign + encode the new batch with
    * the EXISTING coarse model and codebooks (the RT flow — neither
    * retrains mid-stream), write as additional clustered files. */
  def appendToIndexPq(df: DataFrame, vecCol: String, m: Model,
                      pq: Quantize.PqModel, path: String,
                      files: Int = 1,
                      metric: Knn.Metric = Knn.L2): Unit = {
    requirePqMetric(m, metric)
    checkPqMetric(df.sparkSession, path, metric)
    // IP binds with the BUILD's stored M (the frozen-model contract — a
    // batch-local re-estimate would encode a different space)
    val ipM2 = if (metric == Knn.IP) {
      val mn = requireStoredMaxNorm(df.sparkSession, path); mn * mn
    } else 0.0
    val (bound, bcol) = boundSide(df, vecCol, metric, ipM2)
    val assigned = assign(bound, bcol, m)
      .withColumn("ivf_res", residualCol(col(bcol), col("ivf_cluster"), m))
    Quantize.encodeTable(assigned, "ivf_res", "ivf_pq", pq)
      .drop("ivf_res", BoundCol)
      .repartitionByRange(files, col("ivf_cluster"))
      .sortWithinPartitions(col("ivf_cluster"))
      .write.mode("append").parquet(resolve(df.sparkSession, path))
    graft.plans.AnnRouting.onIndexMutated(df.sparkSession, path)
  }

  /** I9 OPTIMIZE for the IVF-ADC index (r17 — completes the family's
    * lifecycle beside [[appendToIndexPq]]): [[compact]]'s generation
    * commit ([[Commit.commitGeneration]]), with the codes RE-ENCODED
    * in-generation — coarse re-assignment (optionally retraining the
    * coarse model on the full corpus) followed by residual re-encoding
    * (optionally retraining the codebooks), so the committed generation's
    * ivf_pq codes are always residuals of ITS centroids. A fresh
    * serving-metric marker is written into the new generation (appends
    * and searches keep checking it).
    * Returns the serving (coarse model, codebooks) — the caller
    * re-registers the automatic route with them. */
  def compactPq(spark: SparkSession, indexPath: String, vecCol: String,
                idCol: String, m: Model, pq: Quantize.PqModel,
                retrain: Boolean = false,
                subM: Int = 8, codeK: Int = 16, files: Int = 4,
                metric: Knn.Metric = Knn.L2): (Model, Quantize.PqModel) = {
    requirePqMetric(m, metric)
    checkPqMetric(spark, indexPath, metric)
    val (m2, pq2) = Commit.commitGeneration(spark, indexPath) { (live, next) =>
      val coded0 = spark.read.parquet(live)
      // refuse a PLAIN IVF index: compactPq would silently "upgrade" it to
      // the ADC layout — the caller almost certainly passed the wrong path
      require(coded0.columns.contains("ivf_pq"),
        s"$indexPath carries no IVF-ADC codes (ivf_pq): compact it with " +
          "Ivf.compact, or build the ADC layout with buildIndexPq first")
      val corpus = coded0.drop("ivf_cluster", "ivf_pq")
      // IP: a retrain refreshes the augmentation bound from the full
      // corpus (drifted appends regain their exact screen order); a
      // frozen-model compact keeps the stored M (its codes re-cluster but
      // stay in the same space)
      val ipM2 = if (metric != Knn.IP) 0.0
        else if (retrain) maxSumsq(corpus, vecCol)
        else { val mn = requireStoredMaxNorm(spark, indexPath); mn * mn }
      val (bound, bcol) = boundSide(corpus, vecCol, metric, ipM2)
      val m2 = if (retrain) train(bound, bcol, m.nlist, metric = Knn.L2)
               else m
      val assigned = assign(bound, bcol, m2)
        .withColumn("ivf_res", residualCol(col(bcol), col("ivf_cluster"), m2))
      // the residual space moved with the centroids, so a coarse retrain
      // implies fresh codebooks even when `retrain` asked only for the
      // coarse model — stale codebooks would decode against the old space
      val pq2 = if (retrain) Quantize.trainPq(assigned, "ivf_res",
                  idCol, subM, codeK)
                else pq
      val coded = Quantize.encodeTable(assigned, "ivf_res", "ivf_pq", pq2)
        .drop("ivf_res", BoundCol)
      graft.tables.Writer.write(coded, next,
        sortBy = Seq("ivf_cluster"), files = files)
      writePqMetric(spark, next, metric, math.sqrt(ipM2))
      (m2, pq2)
    }
    graft.plans.AnnRouting.onIndexMutated(spark, indexPath)
    (m2, pq2)
  }

  /** Top-k IVF-ADC search: probe `nprobe` lists, screen by per-list ADC
    * tables, exact-rescore the k·refine survivors. Even at nprobe = nlist
    * the result is exact only when the true top-k lands inside the
    * k·refine coarse set — refine is a survivor margin, not a bound
    * (cosine at nprobe = nlist, refine 32 measured recall@10 ≈ 0.85 on a
    * 20k × 64 clustered corpus); smaller nprobe is the recall/cost trade,
    * spec-tested on clustered data. */
  def searchPq(spark: SparkSession, indexPath: String, m: Model,
               pq: Quantize.PqModel, idCol: String, vecCol: String,
               query: Array[Float], k: Int, nprobe: Int,
               refine: Int = 32,
               metric: Knn.Metric = Knn.L2): DataFrame = {
    requirePqMetric(m, metric)
    checkPqMetric(spark, indexPath, metric)
    val table = graft.engine.Graft.cachedRead(spark, indexPath)
    val coarse = coarseIdsPq(table, m, pq, idCol, query, nprobe,
      Knn.refineKeep(k, refine), metric)
    Knn.knn(table.join(coarse, Seq(idCol)), vecCol, idCol, query, k,
      metric)
  }

  /** The probe-pruned ADC coarse pass as a composable id stream —
    * [[searchPq]]'s screen: prune the scan to the `nprobe` nearest lists,
    * score each code against ITS list's ADC table ([[pqScreen]]), keep
    * the top-`n` ids. A pre-filtered `qdf` composes: the survivors then
    * come from the filtered corpus. */
  def coarseIdsPq(qdf: DataFrame, m: Model, pq: Quantize.PqModel,
                  idCol: String, query: Array[Float], nprobe: Int,
                  n: Int, metric: Knn.Metric = Knn.L2): DataFrame = {
    import qdf.sparkSession.implicits._
    val screen = pqScreen(m, pq, query, nprobe, metric)
    val tB = qdf.sparkSession.sparkContext.broadcast((pq, screen.tables))
    qdf.filter(col("ivf_cluster").isin(screen.probes: _*))
      .select(col(idCol).cast("long").as("cid"), col("ivf_cluster"),
        col("ivf_pq"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val (p, ts) = tB.value
        it.map { case (id, cl, codes) => (id, p.adc(codes, ts(cl))) }
      }
      .toDF("cid", "adist")
      .orderBy(col("adist").asc, col("cid").asc)
      .limit(n)
      .select(col("cid").as(idCol))
  }

  /** The IVF-ADC screen of one query: the `nprobe` nearest lists, each
    * with its ADC table over the query's residual (nprobe × M × K
    * doubles, driver-tiny); the scan keeps only the probed lists — no
    * pushdown when they are every list (`pruned` false), since it would
    * skip nothing. Cosine probes and screens in the normalized space the
    * codes live in (normalized-L2 order == cosine order for the rescore's
    * cut). */
  final case class PqScreen(pq: Quantize.PqModel, probes: Seq[Long],
                            tables: Map[Long, Array[Double]],
                            pruned: Boolean)
      extends Quantize.Screen {
    def columns: Seq[String] = Seq("ivf_cluster", "ivf_pq")
    override def pushdown: Option[Expression] = if (!pruned) None else Some(In(
      AttributeReference("ivf_cluster", LongType)(), probes.map(Literal(_))))
    def scorer(): InternalRow => Double =
      r => pq.adc(r.getBinary(1), tables(r.getLong(0)))
  }

  def pqScreen(m: Model, pq: Quantize.PqModel, query: Array[Float],
               nprobe: Int, metric: Knn.Metric = Knn.L2): PqScreen = {
    val bq = bindPqQuery(metric, query)
    val probes = m.probeSet(bq, nprobe)
    PqScreen(pq, probes, probes.map { l =>
      val cent = m.centroids(l.toInt)
      l -> pq.adcTable(Array.tabulate(bq.length)(i => bq(i) - cent(i)))
    }.toMap, pruned = probes.size < m.nlist)
  }

  /** IVF-accelerated KNN JOIN — the scale path of [[Knn.knnJoin]] (batch
    * retrieval over an indexed corpus): each query row explodes into its
    * `nprobe` nearest list ids (one bound evaluation of the centroid
    * distance array per query — the same coarse assignment the single-query
    * path uses), the exploded batch EQUI-JOINS the index on the list id
    * (broadcast hash join — never a cross product), and the bounded
    * grouped top-k aggregator merges per-query results with map-side
    * partials. Scored pairs shrink from |Q|·|C| to |Q|·nprobe/nlist·|C|;
    * with AQE runtime filters the list-id join key also prunes index scan
    * partitions.
    *
    * Exactness contract mirrors [[search]]: nprobe = nlist scores every
    * pair (≡ [[Knn.knnJoin]] exactly, same tiebreak); smaller nprobe is
    * the recall/cost trade, spec-tested on clustered data.
    * Returns (qIdCol, cIdCol, dist, rn), rn in 1..k per query. */
  def knnJoin(spark: SparkSession, indexPath: String, m: Model,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              cIdCol: String, cVecCol: String,
              k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= m.nlist,
      s"nprobe $nprobe out of [1, ${m.nlist}]")
    // nprobe nearest centroid ids per query, as one expression: distance
    // array bound ONCE via the single-element transform (re-inlining it
    // into the per-centroid lambda would re-evaluate the whole centroid
    // table per element — the shingles lesson), structs sorted by
    // (distance, id), prefix sliced, ids extracted
    val probeIds = element_at(transform(array(distArrayQuery(col(qVecCol), m)),
      arr => transform(
        slice(array_sort(transform(sequence(lit(0), lit(m.nlist - 1)),
          i => struct(element_at(arr, i + 1).as("d"), i.as("i")))),
          1, nprobe),
        s => s.getField("i").cast("long"))), 1)
    // over Knn.maxQueryBatch the broadcast hint drops: the equi-join on
    // the list id runs as a shuffle join (both sides partition by
    // ivf_cluster — nothing driver/broadcast-resident; r15 VERDICT #1)
    val qSel = queries
      .select(col(qIdCol).cast("long").as("__qid"), col(qVecCol).as("__qv"),
        explode(probeIds).as("__probe"))
    val q =
      if (Knn.fitsBudget(queries, Knn.maxQueryBatch(spark,
          m.centroids.head.length))) broadcast(qSel)
      else qSel
    val scored = graft.engine.Graft.cachedRead(spark, indexPath)
      .select(col(cIdCol).cast("long").as("__cid"), col(cVecCol).as("__cv"),
        col("ivf_cluster"))
      .join(q, col("ivf_cluster") === col("__probe"))
      .select(col("__qid"), col("__cid"),
        Knn.distCol(m.metric, col("__cv"), col("__qv")).as("__dist"))
    TopK.topKPairs(scored, qIdCol, cIdCol, k)
  }

  /** BATCH KNN JOIN over the IVF-ADC index (r16 — the probe-pruned batch
    * form of [[searchPq]], completing the join surface's economy ladder:
    * the flat PQ join scans EVERY code per query slice, this one scans
    * only the union of probed lists). In budget: each query picks its
    * `nprobe` nearest lists driver-side (one centroid-distance pass, as
    * [[searchPq]] does), the scan prunes to the UNION of probed lists —
    * the clustered layout makes that file/row-group pruning, the same
    * pushdown the single-query path gets — and ONE pass over the pruned
    * codes screens each row against exactly the queries that probed its
    * list. Per-(query, list) ADC tables build at list boundaries (rows
    * arrive list-contiguous from the clustered files; a list revisit
    * across file boundaries just rebuilds — correctness unaffected), a
    * bounded per-query heap keeps the k·refine best coarse candidates per
    * partition, and the merged global cut exact-rescores against the
    * float column.
    *
    * OVER budget (r17, VERDICT r16 #1 — the r16 arm looped
    * driver-collected slices sequentially): the queries stay a
    * distributed dataset end to end, the [[Hnsw]] graph legs' shape —
    * each query row flatMaps to its `nprobe` list ids against the
    * broadcast centroids, shuffles by list id, and zips against the
    * corpus codes shuffled-and-sorted by the same partitioner, so every
    * task screens its lists' codes against exactly the queries that
    * probed them with the same boundary-built ADC tables. The probed-list
    * union still prunes the corpus scan (collected from the assignment —
    * ≤ nlist ints), and the rescore equi-joins the SAME persisted query
    * projection the assignment read (ADVICE r16: one evaluation serves
    * screen and rescore).
    *
    * Exactness is [[searchPq]]'s: at nprobe = nlist only when each
    * query's true top-k lands inside its k·refine coarse set; smaller
    * nprobe is the usual clustered-recall economy knob. Output contract matches every join
    * leg: (qIdCol, cIdCol, dist, rn), rn 1..k by (dist, id).
    *
    * Arm economics note (BENCH_SF1 `adc_batch_join_budget`): at the
    * local bench's 20k-row batch the distributed arm measured 0.41× the
    * broadcast arm — NOT because it does less work (both screen each
    * probed code against exactly its list's probing queries) but because
    * the list shuffle manufactures partition balance the pruned LOCAL
    * scan lacks (few files → few splits). At production scale the pruned
    * scan spans many files and the broadcast arm's zero-shuffle shape is
    * the right small-batch default; a deployment whose batches hover
    * near the budget can simply lower
    * `spark.graft.knnJoin.maxQueryBatch` to prefer the distributed
    * arm. */
  def knnJoinPq(spark: SparkSession, indexPath: String, m: Model,
                pq: Quantize.PqModel,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                cIdCol: String, idCol: String, vecCol: String,
                k: Int, nprobe: Int, refine: Int = 32,
                metric: Knn.Metric = Knn.L2): DataFrame = {
    requirePqMetric(m, metric)
    checkPqMetric(spark, indexPath, metric)
    require(nprobe >= 1 && nprobe <= m.nlist,
      s"nprobe $nprobe out of [1, ${m.nlist}]")
    require(qIdCol != cIdCol,
      s"query and corpus id columns must have distinct names ($qIdCol)")
    import spark.implicits._
    val keep = Knn.refineKeep(k, refine)
    val table = graft.engine.Graft.cachedRead(spark, indexPath)
    // the shared kernel of both arms: stream (cid, key, codes) rows —
    // KEY-CONTIGUOUS, where the key is the list id (in-budget and plain
    // distributed arms) or the salted (list, salt) encoding (skewed
    // distributed arm, r18) — against `byKey` (key → its probing
    // queries), building each key's per-query ADC tables at the boundary
    // from the query residuals vs `centOf(key)` (exactly searchPq's
    // table) and keeping a bounded k·refine heap per query.
    def screenCodes(byKey: Map[Int, Array[(Long, Array[Float])]],
                    centOf: Int => Array[Float],
                    it: Iterator[(Long, Int, Array[Byte])])
        : Iterator[(Long, Long, Double)] = {
      val heaps = new java.util.HashMap[Long, TopK.BoundedTopK]()
      var curList = -1
      // the current list's probing queries: ADC table and heap per query,
      // resolved once at the list boundary
      var curTables: Array[Array[Double]] = null
      var curHeaps: Array[TopK.BoundedTopK] = null
      it.foreach { case (cid, cl, codes) =>
        if (cl != curList) {
          curList = cl
          val qs = byKey.getOrElse(cl, Array.empty[(Long, Array[Float])])
          lazy val cent = centOf(cl)
          curTables = qs.map { case (_, qv) =>
            pq.adcTable(Array.tabulate(qv.length)(i => qv(i) - cent(i)))
          }
          curHeaps = qs.map { case (qid, _) =>
            heaps.computeIfAbsent(qid, _ => new TopK.BoundedTopK(keep))
          }
        }
        var j = 0
        while (j < curTables.length) {
          curHeaps(j).offer(pq.adc(codes, curTables(j)), cid)
          j += 1
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.entrySet().asScala.iterator.flatMap { e =>
        val (qid, h) = (e.getKey.longValue, e.getValue.sortInPlace())
        Iterator.range(0, h.size).map(i => (qid, h.id(i), h.value(i)))
      }
    }
    def globalCut(coarse: DataFrame): DataFrame =
      TopK.topKPairs(coarse, "q", "c", keep)
        .select(col("q").as("__qid"), col("c").as("__cid"))
    def prunedCodes(probed: Seq[Long]) = table
      .filter(col("ivf_cluster").isin(probed: _*))
      .select(col(idCol).cast("long"), col("ivf_cluster").cast("int"),
        col("ivf_pq"))
      .as[(Long, Int, Array[Byte])]
    val rawSel = table.select(col(idCol).cast("long").as("__cid"),
      col(vecCol).as("__cvec"))
    def rescored(withQvec: DataFrame): DataFrame = {
      val scored = withQvec.join(rawSel, "__cid")
        .select(col("__qid"), col("__cid"),
          Knn.distCol(metric, col("__cvec"), col("__qvec"))
            .cast("double").as("__dist"))
      TopK.topKPairs(scored, qIdCol, cIdCol, k)
    }
    val maxRows = Knn.maxQueryBatch(spark, m.centroids.head.length)
    Knn.boundedQueryBatch(queries, qIdCol, qVecCol, maxRows) match {
      case Some(qRows) =>
        // IN BUDGET: driver-side probe assignment, broadcast tables map,
        // pruned scan (rows arrive list-contiguous from the clustered
        // files), broadcast rescore of the collected batch
        // cosine: probe and screen with the NORMALIZED query (the space
        // the codes live in); the rescore below reads the raw one
        val byList: Map[Int, Array[(Long, Array[Float])]] = qRows
          .flatMap { case (qid, qv) =>
            val bq = bindPqQuery(metric, qv)
            m.probeOrder(bq).take(nprobe).map(l => (l, (qid, bq))) }
          .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
        val bc = spark.sparkContext.broadcast((byList, m.centroids.toArray))
        val coarse = prunedCodes(byList.keys.toArray.sorted.map(_.toLong))
          .mapPartitions { it =>
            val (bl, cents) = bc.value
            screenCodes(bl, cents(_), it)
          }
          .toDF("__qid", "__cid", "__dist")
        val qDf = qRows.toSeq.toDF("__qid", "__qvec")
        rescored(broadcast(globalCut(coarse).join(broadcast(qDf), "__qid")))
      case None =>
        // OVER BUDGET: distributed list assignment + co-partitioned zip
        Knn.distributedScreens.incrementAndGet()
        val qRdd = Knn.persistedQueryRdd(queries, qIdCol, qVecCol)
        // broadcast the MODEL, not bare centroids: the per-row probe
        // selection is Model.probeOrder itself (one exactness-bearing
        // definition shared with the in-budget arm and searchPq —
        // review r17-2-4)
        val mB = spark.sparkContext.broadcast(m)
        val part = new Knn.ModPartitioner(math.min(m.nlist, math.max(1,
          spark.conf.get("spark.sql.shuffle.partitions", "32")
            .toIntOption.getOrElse(32))))
        val met = metric
        // the assignment carries the BOUND-space vector (normalized for
        // cosine — what the ADC tables consume); the rescore reads the
        // raw one back from the same persisted projection
        val qAssign = qRdd.flatMap { case (qid, qv) =>
          val bq = bindPqQuery(met, qv)
          mB.value.probeOrder(bq).take(nprobe).iterator
            .map(l => (l, (qid, bq)))
        }.partitionBy(part)
        // per-list assigned-query COUNTS (≤ nlist small rows to the
        // driver): one job that both derives the probed-list union for
        // the file-prune AND detects probe skew — derived FROM the
        // shuffled assignment, so each query's centroid distances are
        // evaluated exactly once (review r17-7); this job materializes
        // the shuffle, which every consumer below then reuses
        val listCounts: Map[Int, Long] = qAssign.keys
          .mapPartitions { it =>
            val acc = scala.collection.mutable.HashMap.empty[Int, Long]
            it.foreach(l => acc.update(l, acc.getOrElse(l, 0L) + 1L))
            Iterator.single(acc)
          }
          .fold(scala.collection.mutable.HashMap.empty[Int, Long]) {
            (a, b) =>
              b.foreach { case (l, c) =>
                a.update(l, a.getOrElse(l, 0L) + c) }
              a
          }.toMap
        val probed = listCounts.keys.toArray.sorted.map(_.toLong)
        // SKEW (r18, VERDICT r17 #5): a zipfian probe distribution keys
        // most queries to the same few lists and the plain list-keyed
        // shuffle serializes the screen into those partitions. When any
        // list's assigned-query count exceeds the batch budget, SALT it:
        // split the hot list's queries into ceil(count/budget) groups
        // (deterministic qid-mod — a bounded per-group row count, not a
        // hash approximation) and replicate that list's CODES to each
        // group (codes are M+16 bytes/row — the cheap side; query
        // vectors are 4·dim). Keys encode (list, salt) injectively as
        // list·saltCap + salt, so the zip stays one sorted
        // key-contiguous stream per partition and the heap kernel is
        // unchanged; per-query results merge in the SAME global cut
        // (each query still screens every probed code exactly once —
        // identical rows, re-balanced partitions).
        val saltCap0 = listCounts.values.foldLeft(1L) { (acc, c) =>
          math.max(acc, (c + maxRows - 1) / maxRows)
        }
        // no point splitting finer than the shuffle width; keep the
        // encoded key within Int
        val saltCap = math.min(math.min(saltCap0,
          part.numPartitions.toLong),
          Int.MaxValue.toLong / math.max(1, m.nlist)).toInt.max(1)
        val coarseRdd = if (saltCap <= 1) {
          val codesByList = prunedCodes(probed.toSeq).rdd
            .map { case (cid, cl, codes) => (cl, (cid, codes)) }
            .repartitionAndSortWithinPartitions(part)
          codesByList.zipPartitions(qAssign,
            preservesPartitioning = false) { (cit, qit) =>
            val byList: Map[Int, Array[(Long, Array[Float])]] = qit.toArray
              .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
            if (byList.isEmpty) Iterator.empty
            else {
              val ca = mB.value.centroids.toArray
              screenCodes(byList, ca(_),
                cit.map { case (cl, (cid, codes)) => (cid, cl, codes) })
            }
          }
        } else {
          saltedScreens.incrementAndGet()
          val salts: Map[Int, Int] = listCounts.map { case (l, c) =>
            l -> math.min(saltCap.toLong,
              (c + maxRows - 1) / maxRows).toInt.max(1)
          }
          val saltsB = spark.sparkContext.broadcast(salts)
          val sPart = new Knn.ModPartitioner(part.numPartitions)
          // queries re-key from the ALREADY-SHUFFLED assignment (stage
          // reuse — probeOrder still runs once per query)
          val qSalted = qAssign.map { case (l, (qid, bq)) =>
            val s = saltsB.value.getOrElse(l, 1)
            val salt = (((qid % s) + s) % s).toInt
            (l * saltCap + salt, (qid, bq))
          }.partitionBy(sPart)
          val codesSalted = prunedCodes(probed.toSeq).rdd
            .flatMap { case (cid, cl, codes) =>
              Iterator.range(0, saltsB.value.getOrElse(cl, 1))
                .map(s => (cl * saltCap + s, (cid, codes)))
            }
            .repartitionAndSortWithinPartitions(sPart)
          codesSalted.zipPartitions(qSalted,
            preservesPartitioning = false) { (cit, qit) =>
            val byKey: Map[Int, Array[(Long, Array[Float])]] = qit.toArray
              .groupBy(_._1).map { case (kk, xs) => kk -> xs.map(_._2) }
            if (byKey.isEmpty) Iterator.empty
            else {
              val ca = mB.value.centroids.toArray
              screenCodes(byKey, kk => ca(kk / saltCap),
                cit.map { case (kk, (cid, codes)) => (cid, kk, codes) })
            }
          }
        }
        val coarse = spark.createDataset(coarseRdd)
          .toDF("__qid", "__cid", "__dist")
        val qDf = spark.createDataset(qRdd).toDF("__qid", "__qvec")
        rescored(globalCut(coarse).join(qDf, "__qid"))
    }
  }

  /** Over-budget ADC joins that engaged the salted de-skew arm — spec
    * instrumentation only (meaningful in local mode). */
  val saltedScreens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-list radius (max L2 distance of a member to its centroid) — the
    * metadata early termination needs; one aggregation over the index. */
  def listRadii(spark: SparkSession, indexPath: String, m: Model,
                vecCol: String): Map[Long, Double] = {
    val cents = typedLit(m.centroids.map(_.toSeq))
    graft.engine.Graft.cachedRead(spark, indexPath)
      .select(col("ivf_cluster"),
        distances.l2Dist(col(vecCol),
          element_at(cents, col("ivf_cluster").cast("int") + 1)
            .cast("array<float>")).as("d"))
      .groupBy("ivf_cluster").agg(max("d").as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** EXACT early-terminating search (K5 analog — the reference streams ANN
    * candidates and stops when a P² quantile of improvements stalls,
    * knn/termination.h:23-52; with an IVF layout the same goal is met
    * EXACTLY via the triangle inequality): probe lists in centroid-distance
    * order, doubling the probe set per round, and stop as soon as the next
    * unprobed list's lower bound `dist(q, c_j) − radius_j` exceeds the
    * current kth-best distance — no member of that list (or any later one)
    * can enter the top-k. This entry point is the L2 bound;
    * [[searchAdaptiveCosine]] carries the same construction to cosine/IP
    * through the normalized companion space.
    *
    * Returns the same rows as a full scan; typically touches a few lists
    * on clustered data (spec-asserted).
    */
  def searchAdaptive(spark: SparkSession, indexPath: String, m: Model,
                     radii: Map[Long, Double], idCol: String, vecCol: String,
                     query: Array[Float], k: Int,
                     filter: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, Int) = {
    require(m.metric == Knn.L2, "early-terminating search is defined for L2")
    val order = m.probeOrder(query)
    val centDist = order.map(j => j -> scalarDist(Knn.L2, query, m.centroids(j))).toMap
    // Lower bound of any member of list j: dist(q, c_j) - radius_j.
    adaptiveLoop(spark, indexPath, idCol, vecCol, query, k, Knn.L2, order,
      j => centDist(j) - radii.getOrElse(j.toLong, Double.PositiveInfinity),
      filter)
  }

  /** K5 for the COSINE metric (ref knn/termination.h:23-52 parameterizes
    * termination by metric; the exact-bound analog): cosine distance is
    * scale-invariant and for unit vectors equals ||q̂−x̂||²/2, so the L2
    * triangle inequality over the NORMALIZED copies bounds it:
    * `cosDist(q, x) ≥ max(0, ||q̂−c_j|| − r_j − ε)² / 2` for every member x
    * of list j, where r_j is the list's max normalized-space L2 radius.
    * ε (default 1e-4) covers float32 rounding of the stored normalized
    * column — the true normalization error is ≤ ~1e-6 at dim 64, so the
    * slack costs no measurable pruning while keeping the bound SAFE (the
    * reported distances themselves come from the exact cosine kernel over
    * the RAW vectors, so results are bit-identical to a full scan).
    *
    * Contract: `m` is trained with metric L2 over the unit-normalized
    * vector column `vecNCol` of the index table, `radii` comes from
    * [[listRadii]] over that same column, and `query` is RAW (normalized
    * internally). IP on unit-normalized corpora is the same distance
    * (1 − q·x = cosDist), so this path serves it too. */
  def searchAdaptiveCosine(spark: SparkSession, indexPath: String, m: Model,
                           radii: Map[Long, Double], idCol: String,
                           vecCol: String, query: Array[Float], k: Int,
                           eps: Double = 1e-4,
                           filter: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, Int) = {
    require(m.metric == Knn.L2,
      "cosine early termination bounds through L2 over normalized vectors")
    val qn = normalizeQuery(query)
    val order = m.probeOrder(qn)
    val centDist = order.map(j => j -> scalarDist(Knn.L2, qn, m.centroids(j))).toMap
    def bound(j: Int): Double = cosineLowerBound(
      centDist(j), radii.getOrElse(j.toLong, Double.PositiveInfinity), eps)
    adaptiveLoop(spark, indexPath, idCol, vecCol, query, k, Knn.Cosine,
      order, bound, filter)
  }

  /** K3 through the index path (VERDICT r8 #2 — the reference evaluates
    * the attribute filter INSIDE graph traversal, KNNFilter_i
    * knn/knn.h:87-94 / HNSWFilterWrapper_c knn.cpp:90-97, and bypasses to
    * brute force only when selectivity makes that cheaper, ShouldUseFullscan
    * knn.cpp:613-620): route between
    *  - the exact filtered FULLSCAN (selective filter: few survivors, score
    *    them all — the pre-r9 path), and
    *  - the adaptive probe loop with the predicate pushed into every probe
    *    scan (`pred AND ivf_cluster IN probes`): lists are probed in
    *    centroid order and the loop naturally OVER-PROBES until k survivors
    *    accumulate or every remaining list's triangle bound exceeds the kth
    *    best — exact over the filtered corpus by the same argument as the
    *    unfiltered loop (the bound holds for every member of a list, so a
    *    fortiori for the filtered subset).
    *
    * `selectivity` is the estimated match fraction (footer stats / Z4 seam
    * at the call site); None = unknown, which conservatively takes the
    * always-exact fullscan. Returns (top-k, lists probed, routed-to-index).
    * nlist probes on the index path == filtered fullscan, so both arms are
    * exact — the routing only moves cost. */
  def searchFiltered(spark: SparkSession, indexPath: String, m: Model,
                     radii: Map[Long, Double], idCol: String, vecCol: String,
                     query: Array[Float], k: Int,
                     pred: org.apache.spark.sql.Column,
                     selectivity: Option[Double], rows: Long,
                     ef: Int = 64): (DataFrame, Int, Boolean) = {
    val fullscan = selectivity match {
      case Some(sel) => Knn.shouldUseFullscan(sel, rows, k, ef)
      case None => true
    }
    if (fullscan) {
      val scanned = graft.engine.Graft.cachedRead(spark, indexPath).filter(pred)
      (Knn.knn(scanned, vecCol, idCol, query, k, m.metric), m.nlist, false)
    } else {
      val (df, probed) = searchAdaptive(spark, indexPath, m, radii, idCol,
        vecCol, query, k, Some(pred))
      (df, probed, true)
    }
  }

  /** Unit-normalized copy of a query vector (driver-side; a zero vector
    * passes through — the defined-zero cosine convention). ONE definition
    * shared by every cosine-bounded search path. */
  private[vector] def normalizeQuery(q: Array[Float]): Array[Float] = {
    val n = math.sqrt(q.map(x => x.toDouble * x).sum)
    if (n == 0.0) q else q.map(x => (x / n).toFloat)
  }

  /** Cosine-distance lower bound for a list/sub-graph from its
    * normalized-space L2 centroid distance and radius:
    * `max(0, d − r − ε)² / 2` (cosine distance of a unit pair is half its
    * squared L2 distance; ε covers float32 rounding of the stored
    * normalized vectors). Exactness-bearing — keep the single copy. */
  private[vector] def cosineLowerBound(centDist: Double, radius: Double,
                                       eps: Double): Double = {
    val b = centDist - radius - eps
    if (b <= 0.0) 0.0 else b * b / 2.0
  }

  /** IP-distance (1−⟨q,v⟩) lower bound for a list/sub-graph from its
    * AUGMENTED-space L2 centroid distance and radius (r19): every member
    * v has ‖[q,0]−v'‖ ≥ b = max(0, d−r−ε), and ‖[q,0]−v'‖² =
    * ‖q‖² + M² − 2⟨q,v⟩ exactly (‖v'‖ = M for every corpus row), so
    * 1−⟨q,v⟩ ≥ 1 − (‖q‖² + M² − b²)/2. Exactness-bearing — keep the
    * single copy beside [[cosineLowerBound]]. */
  private[vector] def ipLowerBound(centDist: Double, radius: Double,
                                   qSumsq: Double, m2: Double,
                                   eps: Double): Double = {
    val b = math.max(0.0, centDist - radius - eps)
    // the ‖v'‖ = M identity holds only to float32 rounding of the stored
    // augmented coordinate (~1.2e-7·M² in ‖v'‖² terms), so the slack must
    // SCALE with M² — a fixed 1e-4 is swamped at M ~ hundreds (r19
    // review); over-slack only over-probes, exactness is one-sided
    1.0 - (qSumsq + m2 - b * b) / 2.0 - eps * math.max(1.0, m2)
  }

  /** Shared early-termination loop: probe lists in `order`, doubling the
    * batch per round, scoring probed lists with the EXACT `metric` kernel;
    * stop as soon as every unprobed list's lower `bound` exceeds the
    * current kth-best distance — no member of those lists can enter the
    * top-k, so the result equals a full scan. */
  private def adaptiveLoop(spark: SparkSession, indexPath: String,
                           idCol: String, vecCol: String, query: Array[Float],
                           k: Int, metric: Knn.Metric, order: Seq[Int],
                           bound: Int => Double,
                           pred: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, Int) = {
    var remaining = order
    var probed = 0
    var batch = 1
    var bestK: Seq[(Double, Long)] = Nil // (dist, id) ascending
    // Stop once EVERY unprobed list's lower bound exceeds the kth best
    // (bounds are not monotone in probe order — radii differ per list).
    // <= because ties matter: a candidate at EXACTLY the kth distance with
    // a smaller id would displace the kth under the asc-(dist, id) tie
    // convention, so equal-bound lists must still be probed. Once k hits
    // are held, lists whose bound exceeds the kth best are dropped from
    // the schedule PERMANENTLY (ADVICE r8: the kth best only improves, so
    // they can never become relevant again) — the next batch then probes
    // only still-relevant lists instead of the blind centroid-order prefix.
    // resolve ONCE: the whole adaptive schedule reads one consistent
    // generation even if a concurrent compact commits mid-loop
    val dataPath = resolve(spark, indexPath)
    while ({
      if (bestK.size >= k)
        remaining = remaining.filter(j => bound(j) <= bestK.last._1)
      remaining.nonEmpty
    }) {
      val probes = remaining.take(batch).map(_.toLong)
      val base = graft.engine.Graft.cachedRead(spark, dataPath)
        .filter(col("ivf_cluster").isin(probes: _*))
      // K3: the attribute predicate rides INSIDE the probe scan (the
      // reference's in-traversal filter callback, knn/knn.h:87-94); if a
      // probed list yields < k survivors the loop naturally over-probes.
      val scanned = pred.map(base.filter).getOrElse(base)
      val rows = Knn.knn(scanned, vecCol, idCol, query, k, metric)
        .collect().map(r => (r.getDouble(1), r.getLong(0)))
      bestK = (bestK ++ rows).sorted.take(k)
      probed += probes.size
      remaining = remaining.drop(batch)
      batch *= 2
    }
    import spark.implicits._
    (bestK.map { case (dist, id) => (id, dist) }.toDF(idCol, "dist"), probed)
  }

  /** Unit-normalized copy of `vecCol` (double accumulation, float32
    * storage) — the stored companion column the cosine adaptive path
    * bounds through. Zero vectors pass through unchanged (the engine's
    * defined-zero cosine convention). */
  def normalized(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val norm = sqrt(aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    when(norm === 0.0, vec)
      .otherwise(transform(vec, x => (x.cast("double") / norm).cast("float")))
  }
}
