package graft.vector

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Vector-index integrity check — S4 parity for the ANN side: the
  * `CheckSecondaryIndex` shape (secondary/secondary.h:97; the reference
  * walks every block validating counts, ordering and offsets,
  * blockreader.cpp:857+) applied to the artifacts the KNN families serve
  * from (knn/knn.cpp:600-610 dispatches on whatever index the column has,
  * so a corrupt artifact would silently mis-rank results — these passes
  * catch it BEFORE a search).
  *
  * Graph family ([[Hnsw.buildIndexClustered]] layout):
  *  1. route sidecar: ONE metric, one row per pid, radius non-negative;
  *  2. sidecar pids == graph pids (a route row without a sub-graph
  *     mis-schedules probes; a sub-graph without a route row is invisible
  *     to the routed walk — rows silently missing from every top-k);
  *  3. vector dims consistent across nodes and equal to the centroid dim;
  *  4. radius covers members: every node's bound-space distance to its
  *     pid's centroid is ≤ radius + eps (an under-stated radius breaks the
  *     triangle bound — the routed walk would prune a sub-graph that still
  *     holds a true neighbor, the exactness invariant);
  *  5. adjacency resolves: every neighbor id exists within the SAME
  *     sub-graph (the beam walk rehydrates per partition);
  *  6. chain connectivity: every node links its id-order predecessor (the
  *     unpruned chain edge that makes full-ef search exact — a dropped
  *     chain edge can disconnect a region silently);
  *  7. ids globally unique (one sub-graph owns each row);
  *  8. optionally vs the FACT table: graph ids == fact ids, both
  *     directions (stale index after a fact rewrite).
  *
  * Quantized families: stored codes must equal a model re-encode of the
  * stored float vector (subsumes "codes decode within model bounds": a
  * clamped re-encode IS the canonical code; any drift — bit rot, a stale
  * model after retrain-compact, a truncated row — shows as inequality),
  * plus id uniqueness and optional fact reconciliation.
  *
  * IVF family (r12): stored assignments must equal a model re-assign
  * through the same kernel, cluster ids in bounds, id uniqueness, fact
  * reconciliation — resolved through the manifest so a compact-managed
  * index checks its live generation.
  *
  * All passes are distributed aggregations/joins over INDEX-sized data;
  * the driver sees counts and bounded samples.
  */
object VectorIndexCheck {

  final case class Report(path: String, rows: Long, issues: Seq[String]) {
    def ok: Boolean = issues.isEmpty
  }

  /** Cap on per-invariant violation samples surfaced in the report. */
  private val SampleN = 5

  private def sample[T](xs: Array[T]): String = xs.take(SampleN).mkString(", ")

  /** Graph-family check. `fact` = (fact table, its id column). */
  def checkGraph(spark: SparkSession, indexPath: String,
                 fact: Option[(DataFrame, String)] = None,
                 eps: Double = 1e-6): Report = {
    import spark.implicits._
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val (graphDir, routeDir) = Hnsw.resolveDirs(spark, indexPath)
    val raw = spark.read.parquet(graphDir)
      .select(col("pid"), col("id"), col("vec"), col("neighbors"))
    val rows = raw.count()

    // 0. NULL fields / NULL array elements are themselves corruption (a
    // truncated or bit-rotted row): report them and run the remaining
    // passes on the clean subset — a NULL vec would otherwise abort pass
    // 3/4 with a task failure, and a NULL neighbors array would slip
    // through pass 5 (explode drops it) and pass 6 (array_contains(NULL,
    // prev) is NULL, filtered out) as a silent PASS
    val corruptPred = col("pid").isNull || col("id").isNull ||
      col("vec").isNull || col("neighbors").isNull ||
      exists(col("vec"), x => x.isNull) ||
      exists(col("neighbors"), x => x.isNull)
    val corrupt = raw.filter(corruptPred)
    val cc0 = corrupt.count()
    if (cc0 > 0)
      issues += s"$cc0 graph rows with NULL fields or NULL array elements: " +
        s"ids ${sample(corrupt.select(coalesce(col("id"), lit(-1L)))
          .as[Long].take(SampleN))}"
    val g = raw.filter(!corruptPred)

    // 1. sidecar shape: single metric, one row per pid, sane radii
    val routeRaw = spark.read.parquet(routeDir)
    val routeAll = (if (routeRaw.columns.contains("metric")) routeRaw
                    else routeRaw.withColumn("metric", lit("l2")))
      .select(col("pid").cast("int"), col("radius").cast("double"),
        col("centroid"), col("metric"))
    val routeCorrupt = routeAll.filter(col("pid").isNull ||
      col("radius").isNull || col("centroid").isNull ||
      col("metric").isNull || exists(col("centroid"), x => x.isNull))
    val rc0 = routeCorrupt.count()
    if (rc0 > 0)
      issues += s"$rc0 sidecar rows with NULL fields: pids ${sample(
        routeCorrupt.select(coalesce(col("pid"), lit(-1)))
          .as[Int].take(SampleN))}"
    val route = routeAll.filter(col("pid").isNotNull &&
      col("radius").isNotNull && col("centroid").isNotNull &&
      col("metric").isNotNull && !exists(col("centroid"), x => x.isNull))
      .collect()
    val metrics = route.map(_.getString(3)).distinct
    if (metrics.length > 1)
      issues += s"mixed sidecar metrics: ${metrics.mkString(", ")}"
    if (metrics.exists(m => m != "l2" && m != "cosine" && m != "ip"))
      issues += s"unknown sidecar metric: ${metrics.mkString(", ")}"
    // an IP sidecar must carry its augmentation bound M (one value on
    // every row) — the bound space is [v, √(M²−‖v‖²)] and a lost/mixed M
    // makes pass 4 unverifiable (the index loader refuses it too)
    val ipNorms =
      if (!metrics.contains("ip")) Array.empty[Double]
      else if (!routeRaw.columns.contains("max_norm")) Array.empty[Double]
      else routeRaw.filter(col("max_norm").isNotNull)
        .select(col("max_norm").cast("double")).distinct()
        .as[Double].collect()
    if (metrics.contains("ip") && ipNorms.length != 1)
      issues += (if (ipNorms.isEmpty)
        "metric=ip sidecar carries no augmentation bound max_norm"
      else s"metric=ip sidecar carries mixed bounds M: ${sample(ipNorms.sorted)}")
    val dupPids = route.groupBy(_.getInt(0)).filter(_._2.length > 1).keys.toArray
    if (dupPids.nonEmpty)
      issues += s"duplicate sidecar pids: ${sample(dupPids.sorted)}"
    val negRadius = route.filter(r => r.getDouble(1) < 0.0).map(_.getInt(0))
    if (negRadius.nonEmpty)
      issues += s"negative radius for pids: ${sample(negRadius.sorted)}"

    // 2. sidecar pids == graph pids
    val graphPids = g.select(col("pid").cast("int")).distinct()
      .as[Int].collect().toSet
    val routePids = route.map(_.getInt(0)).toSet
    val noGraph = (routePids -- graphPids).toArray.sorted
    if (noGraph.nonEmpty)
      issues += s"sidecar pids with no sub-graph rows: ${sample(noGraph)}"
    val noRoute = (graphPids -- routePids).toArray.sorted
    if (noRoute.nonEmpty)
      issues += s"sub-graphs invisible to the routed walk (no sidecar row): ${sample(noRoute)}"

    // 3. dimension consistency (node vectors and centroids)
    val dims = g.select(size(col("vec")).as("d")).distinct().as[Int].collect()
    if (dims.length > 1)
      issues += s"inconsistent vector dims: ${sample(dims.sorted)}"
    // IP centroids live in the augmented space — one extra component
    val ip = metrics.headOption.contains("ip")
    val expCentDim = if (ip) dims.headOption.map(_ + 1) else dims.headOption
    val centDims = route.map(_.getSeq[Float](2).size).distinct
    if (dims.length == 1 && centDims.exists(d => !expCentDim.contains(d)))
      issues += s"centroid dim ${centDims.mkString(",")} != expected " +
        s"${expCentDim.mkString(",")} (vector dim ${dims.head}" +
        (if (ip) " + 1 augmented)" else ")")

    val dimsOk = dims.length == 1 && centDims.forall(expCentDim.contains)
    if (metrics.length <= 1 && dupPids.isEmpty && dimsOk &&
        (!ip || ipNorms.length == 1)) {
      // 4. radius covers members, in the metric's bound space (skipped —
      // it would crash mid-task on l2Dist — when pass 3 already found
      // dimension drift; the report carries the drift issue instead)
      val cosine = metrics.headOption.contains("cosine")
      val routeDf = route.map(r => (r.getInt(0), r.getSeq[Float](2), r.getDouble(1)))
        .toSeq.toDF("pid", "centroid", "radius")
      val boundVec =
        if (cosine) Ivf.normalized(col("vec"))
        else if (ip) Quantize.boundSpaceCol(Knn.IP, col("vec"),
          ipNorms.head * ipNorms.head)
        else col("vec")
      val outside = g.join(broadcast(routeDf), Seq("pid"))
        .withColumn("d", distances.l2Dist(boundVec,
          col("centroid").cast("array<float>")))
        .filter(col("d") > col("radius") + lit(eps))
        .select(col("id")).as[Long]
      val oc = outside.count()
      if (oc > 0)
        issues += s"$oc nodes outside their sidecar radius (triangle bound " +
          s"broken): ids ${sample(outside.take(SampleN))}"
    }

    // 5. adjacency resolves within the sub-graph
    val nodes = g.select(col("pid"), col("id").as("nbr"))
    val dangling = g.select(col("pid"), col("id"),
        explode(col("neighbors")).as("nbr"))
      .join(nodes, Seq("pid", "nbr"), "left_anti")
      .select(col("id")).as[Long]
    val dc = dangling.count()
    if (dc > 0)
      issues += s"$dc adjacency entries point outside their sub-graph: " +
        s"from ids ${sample(dangling.take(SampleN))}"

    // 6. chain connectivity: each node links its id-order predecessor
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("id"))
    val unchained = g.withColumn("prev", lag(col("id"), 1).over(w))
      .filter(col("prev").isNotNull &&
        !array_contains(col("neighbors"), col("prev")))
      .select(col("id")).as[Long]
    val uc = unchained.count()
    if (uc > 0)
      issues += s"$uc nodes missing their chain edge (connectivity not " +
        s"guaranteed): ids ${sample(unchained.take(SampleN))}"

    // 7. global id uniqueness
    val dupIds = g.groupBy(col("id")).count().filter(col("count") > 1)
      .select(col("id")).as[Long]
    val dupc = dupIds.count()
    if (dupc > 0)
      issues += s"$dupc ids in more than one sub-graph: ${sample(dupIds.take(SampleN))}"

    // 8. fact reconciliation, both directions
    fact.foreach { case (f, idCol) =>
      val fids = f.select(col(idCol).cast("long").as("id"))
      val missing = fids.join(g.select(col("id")), Seq("id"), "left_anti")
        .as[Long]
      val mc = missing.count()
      if (mc > 0)
        issues += s"$mc fact ids missing from the graph: ${sample(missing.take(SampleN))}"
      val extra = g.select(col("id")).join(fids, Seq("id"), "left_anti")
        .as[Long]
      val ec = extra.count()
      if (ec > 0)
        issues += s"$ec graph ids absent from the fact table: ${sample(extra.take(SampleN))}"
    }
    Report(indexPath, rows, issues.toSeq)
  }

  /** Layer-hierarchy sidecar check ([[Hnsw.buildHierarchy]] layout, for
    * either node space — the sidecar schema is shared): a corrupt sidecar cannot make full-ef search
    * WRONG (the descent only picks the beam entry; the walk is
    * exhaustive), but a dangling member id crashes the walk and a broken
    * layer graph silently degrades small-ef recall — so the pass
    * validates:
    *  1. NULL fields (truncated/bit-rotted rows);
    *  2. levels >= 1 (level 0 lives in the graph table, never here);
    *  3. membership: every (pid, id) layer row names a node of the SAME
    *     sub-graph (the descent rehydrates per partition);
    *  4. downward closure: a node at level l appears at every level below
    *     it down to 1 (the descent carries its position down);
    *  5. adjacency resolves within the same (pid, level) member set. */
  def checkLayers(spark: SparkSession, indexPath: String): Report = {
    import spark.implicits._
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val layersDir = Hnsw.sidecarDir(spark, indexPath, "layers")
    val graphDir = Hnsw.resolveDirs(spark, indexPath)._1
    val raw = spark.read.parquet(layersDir)
      .select(col("pid"), col("level"), col("id"), col("neighbors"))
    val rows = raw.count()

    // 1. NULL-field corruption; remaining passes run on the clean subset
    val corruptPred = col("pid").isNull || col("level").isNull ||
      col("id").isNull || col("neighbors").isNull ||
      exists(col("neighbors"), x => x.isNull)
    val corrupt = raw.filter(corruptPred)
    val cc = corrupt.count()
    if (cc > 0)
      issues += s"$cc layer rows with NULL fields: ids ${sample(
        corrupt.select(coalesce(col("id"), lit(-1L))).as[Long].take(SampleN))}"
    val l = raw.filter(!corruptPred)

    // 2. levels start at 1
    val bad = l.filter(col("level") < 1).select(col("id")).as[Long]
    val bc = bad.count()
    if (bc > 0)
      issues += s"$bc layer rows with level < 1: ids ${sample(bad.take(SampleN))}"

    // 3. membership against the sub-graph's node set
    val nodes = spark.read.parquet(graphDir)
      .select(col("pid"), col("id"))
    val orphan = l.select(col("pid"), col("id"))
      .join(nodes, Seq("pid", "id"), "left_anti")
      .select(col("id")).as[Long]
    val oc = orphan.count()
    if (oc > 0)
      issues += s"$oc layer rows reference ids absent from their " +
        s"sub-graph: ${sample(orphan.take(SampleN))}"

    // 4. downward closure: (pid, id, level > 1) needs a (pid, id, level-1)
    val gap = l.filter(col("level") > 1)
      .select(col("pid"), col("id"), (col("level") - 1).as("level"))
      .join(l.select(col("pid"), col("id"), col("level")),
        Seq("pid", "id", "level"), "left_anti")
      .select(col("id")).as[Long]
    val gc = gap.count()
    if (gc > 0)
      issues += s"$gc nodes missing from a layer below their level " +
        s"(downward closure broken): ids ${sample(gap.take(SampleN))}"

    // 5. adjacency resolves within the same (pid, level) member set
    val members = l.select(col("pid"), col("level"), col("id").as("nbr"))
    val dangling = l.select(col("pid"), col("level"), col("id"),
        explode(col("neighbors")).as("nbr"))
      .join(members, Seq("pid", "level", "nbr"), "left_anti")
      .select(col("id")).as[Long]
    val dc = dangling.count()
    if (dc > 0)
      issues += s"$dc layer adjacency entries point outside their " +
        s"(pid, level) member set: from ids ${sample(dangling.take(SampleN))}"

    Report(layersDir, rows, issues.toSeq)
  }

  /** Flat-codec family ([[Quantize.encodeTable]] layout): re-encode every
    * stored vector with the codec and require the stored code columns to
    * equal it (a vector of the wrong width for the codec counts as a
    * mismatch), plus id uniqueness and optional fact reconciliation. */
  def checkCodec(spark: SparkSession, path: String, vecCol: String,
                 codeCol: String, idCol: String, c: Quantize.FlatCodec,
                 fact: Option[(DataFrame, String)] = None): Report = {
    import spark.implicits._
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val t = spark.read.parquet(path)
    val rows = t.count()
    val cb = spark.sparkContext.broadcast(c)
    val bad = t.select(col(idCol).cast("long") +: col(vecCol) +:
        c.fields(codeCol).map(f => col(f.name)): _*)
      .flatMap { r =>
        val cc = cb.value
        val v = r.getSeq[Float](1)
        val ok = v.length == cc.rawDim &&
          cc.encodeRow(v.toArray).zipWithIndex.forall {
            case (fresh: Array[Byte], i) =>
              java.util.Arrays.equals(fresh, r.getAs[Array[Byte]](i + 2))
            case (fresh, i) => fresh == r.get(i + 2)
          }
        if (ok) None else Some(r.getLong(0))
      }
    val bc = bad.count()
    if (bc > 0)
      issues += s"$bc stored $codeCol codes disagree with the model re-encode: " +
        s"ids ${sample(bad.take(SampleN))}"
    Report(path, rows, (issues ++ idIssues(t, idCol, fact, "coded table")).toSeq)
  }

  /** The id passes shared by the coded-table and IVF checks: duplicate
    * ids, and with `fact` = (fact table, its id column) reconciliation in
    * both directions. `what` names the checked table in the messages. */
  private def idIssues(t: DataFrame, idCol: String,
                       fact: Option[(DataFrame, String)],
                       what: String): Seq[String] = {
    import t.sparkSession.implicits._
    val dupIds = t.groupBy(col(idCol)).count().filter(col("count") > 1)
      .select(col(idCol).cast("long")).as[Long]
    val dupc = dupIds.count()
    val dup =
      if (dupc > 0)
        Seq(s"$dupc duplicate $idCol values: ${sample(dupIds.take(SampleN))}")
      else Nil
    dup ++ fact.toSeq.flatMap { case (f, fid) =>
      val fids = f.select(col(fid).cast("long").as("__fid"))
      val tids = t.select(col(idCol).cast("long").as("__fid"))
      val missing = fids.join(tids, Seq("__fid"), "left_anti").as[Long]
      val mc = missing.count()
      val extra = tids.join(fids, Seq("__fid"), "left_anti").as[Long]
      val ec = extra.count()
      (if (mc > 0) Seq(s"$mc fact ids missing from the $what: " +
        sample(missing.take(SampleN))) else Nil) ++
        (if (ec > 0) Seq(s"$ec $what ids absent from the fact table: " +
          sample(extra.take(SampleN))) else Nil)
    }
  }

  /** IVF family ([[Ivf.buildIndex]] layout): every stored `ivf_cluster`
    * must equal the model's nearest-centroid assignment of the stored
    * vector, re-derived through the SAME [[Ivf.assign]] kernel (identical
    * tie resolution) — a stale model after a retrain-compact, bit rot, or
    * a mixed directory all surface as assignment drift, which silently
    * mis-prunes probes; plus cluster-id bounds, id uniqueness, and
    * optional fact reconciliation. Reads through the manifest resolution,
    * so a [[Ivf.compact]]-managed index checks its LIVE generation. */
  def checkIvf(spark: SparkSession, indexPath: String, vecCol: String,
               idCol: String, m: Ivf.Model,
               fact: Option[(DataFrame, String)] = None): Report = {
    import spark.implicits._
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val live = graft.index.Commit.resolve(spark, indexPath)
    val t = spark.read.parquet(live)
    val rows = t.count()
    val oob = t.filter(col("ivf_cluster") < 0 ||
        col("ivf_cluster") >= m.nlist)
      .select(col(idCol).cast("long")).as[Long]
    val oc = oob.count()
    if (oc > 0)
      issues += s"$oc rows with ivf_cluster outside [0, ${m.nlist}): " +
        s"ids ${sample(oob.take(SampleN))}"
    val re = Ivf.assign(t.drop("ivf_cluster"), vecCol, m)
      .select(col(idCol).cast("long").as("__id"),
        col("ivf_cluster").as("__re"))
    val drift = t.select(col(idCol).cast("long").as("__id"),
        col("ivf_cluster").cast("long").as("__st"))
      .join(re, Seq("__id"))
      .filter(col("__st") =!= col("__re"))
      .select(col("__id")).as[Long]
    val dc = drift.count()
    if (dc > 0)
      issues += s"$dc stored ivf_cluster assignments disagree with the " +
        s"model re-assign: ids ${sample(drift.take(SampleN))}"
    Report(live, rows, (issues ++ idIssues(t, idCol, fact, "IVF index")).toSeq)
  }
}
