package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling spot-check (VERDICT r9 #8): run the most expensive gate
  * queries at 10× the bench scale and record how their wall-times grow.
  * A query whose time grows much faster than the data (beyond a fixed
  * scheduling allowance) has a hidden driver-side loop, an all-pairs
  * join, or a skew hotspot that a real cluster would hit at 100 TB — the
  * local[32] analog of the scale-up test a 1000-executor rollout gets.
  *
  * The 10× dataset derives from the sf0.1 fixtures (no synthetic data):
  * each table unions `factor` key-shifted replicas — every foreign key
  * shifts by the same per-replica offset, so join cardinalities per
  * replica match the original exactly. Document text is Caesar-shifted
  * per replica: replica contents stay statistically identical (same
  * lengths, same shingle structure) while sharing no shingles ACROSS
  * replicas — without this, near-dup queries would face quadratic
  * cross-replica pair blowup that is a property of replicated data, not
  * of the engine. Dimensions (nation, region) copy verbatim, as at any
  * scale factor.
  *
  * Output: BENCH_SF1.json with per-query (small, large, ratio) and a
  * `linear_ok` verdict per query: large <= small * factor * 1.5 + 1.0 s
  * (50% slack for shuffle-width effects + a fixed scheduling allowance —
  * sub-second queries are dominated by job setup, not data).
  */
object BenchScale {

  /** The headline set: the most expensive queries of bench_ref.json,
    * spanning every heavy path — LSH dedup, the e2e curation pipeline,
    * tf-idf, the TPC-H-shaped join pipelines, percentiles, both ANN
    * index families' search loops, and (r10-2) the automatic routed
    * paths whose driver-orchestrated pieces — the filtered graph walk's
    * id job + broadcast, the cross-index OR's postings union — are
    * exactly where a hidden super-linear cost would hide. */
  val Queries: Seq[String] = Seq(
    "q_pipeline_e2e", "q_dedup_near", "q_dedup_simhash", "q_text_tfidf",
    "q_mjoin_region", "q_mjoin_pricing", "q_join_large", "q_percentile",
    "q_knn_adaptive", "q_knn_filtered_ivf",
    "q_knn_filtered_graph_auto", "q_index_auto_or_cross",
    // r12: the event-time operators — the band join's bucket fanout and
    // the as-of join's union+window are exactly the shapes that would go
    // quadratic if mis-keyed (replicas are disjoint in user_id AND in
    // event time, so per-replica join structure matches the original)
    "q_join_asof", "q_join_range",
    // r12-2: the new heavy pipeline operators — incremental dedup (store
    // build + probe join), the repetition expression sweep, and the v2
    // flagship chain (every round-12 operator in one plan)
    "q_dedup_incremental", "q_text_repetition", "q_pipeline_v2",
    // r12-3: decontamination (the broadcast eval side grows with the
    // replicas — the probe must stay one corpus pass), the two-phase
    // budget cut (its windows must scale with (group, score) runs, not
    // group sizes), the v3 flagship chain, and the funnel (one aggregate
    // per step, never a whole-history window)
    "q_decontaminate", "q_mix_budget", "q_pipeline_v3", "q_funnel",
    // r12-4: the interval join's bucket explode must stay ~2 rows per
    // interval as both sides scale
    "q_join_interval",
    // r13: the transformer forward is per-document scalar math (must be
    // exactly linear), BPE is a per-document merge loop with a shared
    // token cache, and the residual binary screen is a compact-column
    // scan + bounded rescore
    "q_embed_transformer", "q_text_bpe", "q_knn_binary_res",
    // r14: the routed-graph batch knn join (broadcast query batch, one
    // graph rehydration per sub-graph serving all its queries) and the
    // quantized-space graph walk (int8-resident beam + exact rescore)
    "q_knn_join_graph", "q_knn_graph_quant",
    // r14-2: cross-doc span strip — the gram doc-frequency aggregate and
    // the (doc, pos) anti-join must both stay linear in corpus tokens
    // (the caesar-decorrelated replicas keep per-replica gram structure,
    // so flagged coverage per replica matches the original)
    "q_dedup_strip",
    // r14-3: trigram-LM perplexity — LM training (two hash aggregates
    // over exploded grams) plus the scoring probe's two left equi-joins
    // against a vocabulary-sized model table must stay linear in corpus
    // tokens (the model table itself grows with the decorrelated
    // replicas — exactly the shape that would hide a broadcast-collect)
    "q_text_ppl",
    // r15: the cosine quantized-space walk (normalized-code beam + exact
    // cosine rescore — same flat-ANN shape as the L2 twin), the
    // PQ-routed automatic top-k (ADC screen splice: per-partition M×K
    // table + M-lookup scan must stay one corpus pass), and the v6
    // flagship (span strip + store-trained LM scoring + two-phase
    // buckets + budget cut in ONE chain — the composition is where a
    // hidden global order would surface)
    "q_knn_graph_quant_cos", "q_knn_pq_auto", "q_pipeline_v6",
    // r15-2: the two-phase ppl cumulative (no single-partition Window —
    // the distinct-score aggregate must stay the only heavy stage), the
    // scale-aware cosine dedup dispatcher with AUTO-SIZED banding
    // (bits-per-band tracks log2(n), so the banding stage grows with the
    // corpus — the honest LSH cost), and the quantized-graph automatic
    // route (code-space leaf + bounded raw fetch under the Sort/Limit)
    "q_text_ppl_bucket", "q_dedup_embed_dispatch", "q_knn_graph_quant_auto",
    // r15-3: the batch-join surface completion — the quantized-graph
    // join leg (one CODE-graph rehydration per probed sub-graph serving
    // its whole query batch) and the flat screened joins (per-partition
    // coarse heaps over the code column at k·refine per query, so the
    // shuffle is query-batch-bounded and only the compact code bytes
    // scale with the corpus)
    "q_knn_join_graph_quant", "q_knn_join_quant", "q_knn_join_pq",
    // r15-4: the layer-hierarchy walk (greedy descent to the beam entry
    // inside every probed sub-graph — per-query work must stay flat-ANN
    // shaped; the descent itself is O(log n) hops per sub-graph)
    "q_knn_graph_hier",
    // r16: the composite IVF-ADC family — the automatic probe-pruned
    // per-list ADC splice and the batch join (probe assignment + pruned
    // scan + per-list tables must stay one pass over the probed lists'
    // codes as both sides scale)
    "q_knn_ivf_pq_auto", "q_knn_join_ivf_pq")

  /** Per-replica key offset — far above any sf0.1 key. */
  val Off = 100000000L

  private def caesar(c: org.apache.spark.sql.Column, i: Int) = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val s = i % 26
    val from = lower + upper
    val to = lower.drop(s) + lower.take(s) + upper.drop(s) + upper.take(s)
    translate(c, from, to)
  }

  private[graft] def replicate(df: DataFrame, factor: Int, keyCols: Seq[String],
                        textCols: Seq[String],
                        vecCols: Seq[String] = Nil): DataFrame =
    (0 until factor).map { i =>
      var out = df
      keyCols.foreach(k => out = out.withColumn(k, col(k) + lit(i * Off)))
      if (i > 0) textCols.foreach(t => out = out.withColumn(t, caesar(col(t), i)))
      // vector columns get the embedding-space analog of the Caesar shift:
      // a tiny deterministic per-element jitter (~1% of coordinate scale)
      // so replica vectors stay statistically identical but are NOT exact
      // duplicates — verbatim copies would make every query's true top-k a
      // set of 10 identical points, a degenerate measurement artifact of
      // replication (the r13 recall gate initially measured precisely
      // that), not a property of a real 10× corpus
      if (i > 0) vecCols.foreach { v =>
        out = out.withColumn(v, transform(col(v), (x, di) =>
          x + (pmod(col(keyCols.head) * 31 + di * 7 + lit(i * 13), lit(101))
            - lit(50)).cast("float") * lit(2e-4f)))
      }
      out
    }.reduce(_ unionByName _)

  /** Build the scaled tables under `dst` (memoized by _SUCCESS). */
  def buildScaled(spark: SparkSession, src: String, dst: String,
                  factor: Int): Unit = {
    val specs: Seq[(String, Seq[String], Seq[String], Seq[String], String, Int)] = Seq(
      // (table, shifted keys, caesar'd text cols, jittered vec cols,
      //  sort key, files)
      ("orders", Seq("o_orderkey", "o_custkey"), Nil, Nil, "o_orderkey", 8),
      ("lineitem", Seq("l_orderkey"), Nil, Nil, "l_orderkey", 8),
      ("customer", Seq("c_custkey"), Nil, Nil, "c_custkey", 4),
      ("documents", Seq("doc_id"), Seq("text"), Nil, "doc_id", 4),
      ("embeddings", Seq("vec_id"), Nil, Seq("embedding"), "vec_id", 4),
      ("nation", Nil, Nil, Nil, "n_nationkey", 1),
      ("region", Nil, Nil, Nil, "r_regionkey", 1))
    // Layout marker: the replication recipe changed in r13 (vector
    // jitter) — a $dst built by an older recipe must be REBUILT, not
    // silently reused through the per-table _SUCCESS memoization (the
    // recall gate would then measure the old degenerate duplicate corpus).
    val layout = new org.apache.hadoop.fs.Path(dst, "_SCALE_LAYOUT_r13")
    val lfs = layout.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!lfs.exists(layout)) {
      lfs.delete(new org.apache.hadoop.fs.Path(dst), true)
      lfs.mkdirs(new org.apache.hadoop.fs.Path(dst))
      lfs.create(layout, true).close()
    }
    specs.foreach { case (t, keys, texts, vecs, sortKey, files) =>
      val path = s"$dst/$t.parquet"
      val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        val base = spark.read.parquet(s"$src/$t.parquet")
        val scaled =
          if (keys.isEmpty && texts.isEmpty) base // dimension: verbatim
          else replicate(base, factor, keys, texts, vecs)
        graft.tables.Writer.write(scaled, path, sortBy = Seq(sortKey),
          files = files)
      }
    }
    // events: ids shift like any key, and each replica's EVENT TIME shifts
    // by a year — far beyond any band width or session gap — so the
    // per-replica temporal structure (neighbor counts, as-of matches,
    // windows, sessions) is identical to the original. Without the time
    // shift, 10× density in the same span would grow band-join pairs
    // quadratically — a property of replicated data, not of the engine
    // (the Caesar-shift trick's temporal analog).
    locally {
      val path = s"$dst/events.parquet"
      val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        val base = spark.read.parquet(s"$src/events.parquet")
        val scaled = (0 until factor).map { i =>
          base
            .withColumn("event_id", col("event_id") + lit(i * Off))
            .withColumn("user_id", col("user_id") + lit(i * Off))
            .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 366} DAYS"))
        }.reduce(_ unionByName _)
        graft.tables.Writer.write(scaled, path, sortBy = Seq("event_id"),
          files = 4)
      }
    }
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def loadavg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/data/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val loadStart = loadavg()
    val spark = graft.engine.Graft.session("benchscale", s"local[$cpus]", cpus.toInt)

    buildScaled(spark, src, dst, factor)

    def median3(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      materialize(fn(spark, dir)) // warmup (also builds memoized indexes)
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        materialize(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("factor", factor)
    root.put("src", src)
    root.put("dst", dst)
    root.put("loadavg_start", loadStart)
    val qn = root.putObject("queries")
    var allOk = true
    // Perf/economics assertions (wall-clock contrasts, walk-counter wins,
    // throughput floors) fold into `perf_ok`, NOT `all_linear_ok` (ADVICE
    // r16: a noisy or loaded machine flipping a perf contrast must not
    // read as a scaling-correctness failure). `all_linear_ok` keeps only
    // the per-query linear-scaling gates and the recall floor.
    var perfOk = true
    Queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      val small = median3(fn, src)
      val large = median3(fn, dst)
      val ratio = if (small > 0) large / small else -1.0
      val ok = large <= small * factor * 1.5 + 1.0
      allOk &&= ok
      val n = qn.putObject(name)
      n.put("small_sec", math.round(small * 1e4) / 1e4)
      n.put("large_sec", math.round(large * 1e4) / 1e4)
      n.put("ratio", math.round(ratio * 100) / 100.0)
      n.put("linear_ok", ok)
      println(f"$name%-22s $small%8.3fs -> $large%8.3fs  ratio ${ratio}%6.2f  ok=$ok")
    }
    // r14 (r13 VERDICT #1): the embed-dedup scaling CONTRAST. Both
    // variants sit OUTSIDE the linear gate on purpose: the replica
    // recipe makes every replica a near-dup of its original (tiny vector
    // jitter), so the TRUE pair count — any correct algorithm's output —
    // grows quadratically in the factor. The claim under test is
    // relative: the LSH-blocked variant's 10× ratio must beat the exact
    // all-pairs join's, because blocking scores only banded candidates
    // while exact scores every one of the n²/2 pairs.
    locally {
      val exact = median3(SparkEntry.queries("q_dedup_embed"), src)
      val exactL = median3(SparkEntry.queries("q_dedup_embed"), dst)
      val blocked = median3(SparkEntry.queries("q_dedup_embed_lsh"), src)
      val blockedL = median3(SparkEntry.queries("q_dedup_embed_lsh"), dst)
      val exactRatio = if (exact > 0) exactL / exact else -1.0
      val blockedRatio = if (blocked > 0) blockedL / blocked else -1.0
      // small absolute times are noisy: require the win only once the
      // exact side is out of the noise floor
      val contrastOk = exactL < 2.0 || blockedRatio < exactRatio
      perfOk &&= contrastOk
      val c = root.putObject("embed_dedup_scaling")
      c.put("exact_small_sec", math.round(exact * 1e4) / 1e4)
      c.put("exact_large_sec", math.round(exactL * 1e4) / 1e4)
      c.put("exact_ratio", math.round(exactRatio * 100) / 100.0)
      c.put("blocked_small_sec", math.round(blocked * 1e4) / 1e4)
      c.put("blocked_large_sec", math.round(blockedL * 1e4) / 1e4)
      c.put("blocked_ratio", math.round(blockedRatio * 100) / 100.0)
      c.put("blocked_beats_exact", contrastOk)
      println(f"embed dedup: exact $exact%.3fs -> $exactL%.3fs " +
        f"(ratio $exactRatio%.2f) vs blocked $blocked%.3fs -> $blockedL%.3fs " +
        f"(ratio $blockedRatio%.2f) ok=$contrastOk")
    }
    // r13 VERDICT #5: graph-family recall ECONOMICS at realistic ef on
    // the 10× corpus — the gates run exact (ef = 2^20), so this is where
    // the "does the flat-NSW-per-sub-graph design hold recall at small
    // beam widths and real scale" question gets a pinned number: routed
    // recall@10 at ef=64 plus how many sub-graphs the triangle-bound
    // schedule actually probes. Replica vectors carry a tiny deterministic
    // jitter (see replicate()), so near-neighbors can still land within
    // ~1e-9 of each other — recall is measured tie-inclusively (any id at
    // ≤ the kth distance counts).
    locally {
      import graft.vector.{Hnsw, Knn}
      val embPath = s"$dst/embeddings.parquet"
      val idxPath = s"$dst/hnswc_recall64"
      val done = new org.apache.hadoop.fs.Path(
        Hnsw.routePath(idxPath), "_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done))
        Hnsw.buildIndexClustered(spark.read.parquet(embPath), "embedding",
          "vec_id", idxPath, Hnsw.Params(m = 8, efC = 64, partitions = 32))
      val emb = spark.read.parquet(embPath)
      import spark.implicits._
      val qs = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      val k = 10
      var recSum = 0.0
      var probedSum = 0L
      var recAdaptSum = 0.0
      val accAdapt = spark.sparkContext.longAccumulator("scored_adaptive")
      val accExact = spark.sparkContext.longAccumulator("scored_exact")
      val kA = 16 // adaptive row's k — the policy is reference-gated OFF
                  // for k <= 10 (knn.cpp:481-483)
      qs.foreach { case (_, qv) =>
        val q = qv.toArray
        // ONE exact 320-NN collect serves both tie sets (d10/d16 are its
        // 10th/16th distances; ties resolve within the same prefix)
        val nn = Knn.knn(emb, "embedding", "vec_id", q, 20 * kA)
          .select(col("vec_id"), col("dist")).as[(Long, Double)].collect()
        def tieSetAt(kk: Int): Set[Long] = {
          val dk = nn(kk - 1)._2
          nn.iterator.filter(_._2 <= dk + 1e-9).map(_._1).toSet
        }
        val tieSet = tieSetAt(k)
        val (routedDf, probed) = Hnsw.searchRouted(spark, idxPath,
          "vec_id", q, k, ef = 64)
        val got = routedDf.select(col("vec_id")).as[Long].collect().toSet
        recSum += got.count(tieSet.contains).toDouble / k
        probedSum += probed
        // evidence row: the opt-in P² adaptive termination's recall at
        // the same ef (reported, not floor-pinned — it is a knob)
        val tie16 = tieSetAt(kA)
        val (adaptDf, _) = Hnsw.searchRouted(spark, idxPath,
          "vec_id", q, kA, ef = 64, adaptiveTermination = true,
          scoredAcc = accAdapt)
        recAdaptSum += adaptDf.select(col("vec_id")).as[Long].collect()
          .count(tie16.contains).toDouble / kA
        // the exact k=16 walk under the same scoring accumulator — the
        // baseline the adaptive savings are measured against (r14,
        // r13 VERDICT #6: the knob now also rides the automatic route;
        // AnnRoutingSpec pins that plumbing)
        Hnsw.searchRouted(spark, idxPath, "vec_id", q, kA, ef = 64,
          scoredAcc = accExact)
      }
      val meanRecall = recSum / qs.length
      val meanRecallAdapt = recAdaptSum / qs.length
      val meanProbed = probedSum.toDouble / qs.length
      val subGraphs = spark.read.parquet(Hnsw.routePath(idxPath)).count()
      val floorOk = meanRecall >= 0.95
      allOk &&= floorOk
      val g = root.putObject("graph_recall")
      g.put("ef", 64); g.put("k", k); g.put("queries", qs.length)
      g.put("mean_recall", math.round(meanRecall * 1e4) / 1e4)
      g.put("mean_recall_adaptive_k16", math.round(meanRecallAdapt * 1e4) / 1e4)
      g.put("scored_exact_k16", accExact.value)
      g.put("scored_adaptive_k16", accAdapt.value)
      g.put("adaptive_scored_savings", if (accExact.value == 0) 0.0
        else math.round((1.0 - accAdapt.value.toDouble / accExact.value) * 1e4) / 1e4)
      g.put("mean_probed_subgraphs", math.round(meanProbed * 100) / 100.0)
      g.put("total_subgraphs", subGraphs)
      g.put("floor_ok", floorOk)
      println(f"graph recall@10 ef=64: $meanRecall%.4f  " +
        f"probed $meanProbed%.1f/$subGraphs sub-graphs  ok=$floorOk")
    }
    // r14 (r13 VERDICT #3): single-thread transformer forward throughput
    // at a representative width (hidden 256, 4 layers, inter 1024 —
    // BERT-mini-ish), fixed-seed synthetic weights. The register-blocked
    // applyAll path landed ~2.7× over the per-token scalar loops (327 →
    // ~880 tok/s on this box); the row keeps the number regression-pinned
    // per round. Floor 600 tok/s (≈2× the old path with headroom for
    // machine noise).
    locally {
      import graft.embed.Transformer
      import graft.embed.Transformer._
      val rnd = new scala.util.Random(7)
      val hidden = 256; val heads = 4; val layers = 4; val inter = 1024
      def mat(r: Int, c: Int) =
        Array.fill(r)(Array.fill(c)(rnd.nextFloat() * 0.1f - 0.05f))
      def vecF(d: Int) = Array.fill(d)(rnd.nextFloat() * 0.1f - 0.05f)
      def lin(o: Int, i: Int) = Transformer.Linear(mat(o, i), vecF(o))
      def norm(d: Int) = Transformer.Norm(Array.fill(d)(1.0f), vecF(d))
      val ls = Array.fill(layers)(Transformer.Layer(
        lin(hidden, hidden), lin(hidden, hidden), lin(hidden, hidden),
        lin(hidden, hidden), norm(hidden),
        lin(inter, hidden), lin(hidden, inter), norm(hidden)))
      val model = Transformer.Model(mat(1000, hidden), mat(128, hidden),
        None, norm(hidden), ls, heads, 1e-12)
      val seq = Array.fill(100)(rnd.nextInt(1000))
      (0 until 10).foreach(_ => Transformer.forward(model, seq))
      val docs = 50
      val t0 = System.nanoTime()
      (0 until docs).foreach(_ => Transformer.forward(model, seq))
      val sec = (System.nanoTime() - t0) / 1e9
      val tokS = docs * seq.length / sec
      val tokOk = tokS >= 600.0
      perfOk &&= tokOk
      val tp = root.putObject("transformer_throughput")
      tp.put("hidden", hidden); tp.put("layers", layers)
      tp.put("tokens_per_sec_1thread", math.round(tokS))
      tp.put("floor_ok", tokOk)
      println(f"transformer fwd: ${tokS}%.0f tok/s single-thread ok=$tokOk")
    }
    // r14 (r13 VERDICT #5): the NSW HOP CLAIM, measured. Hnsw.scala's
    // scaladoc asserts the layer hierarchy "buys one hop" at our
    // sub-graph sizes — i.e. flat-NSW walk cost grows ~logarithmically
    // with sub-graph size. Same 10× corpus, two partitionings: 32
    // sub-graphs (~625 rows each, the recall index) vs 4 sub-graphs
    // (~5000 rows each, 8× larger). Pinned: mean nodes-expanded per walk
    // grows ≤ 3× across the 8× size step (log predicts ~1.3×; linear
    // would be ~8×) — a breach is the signal to add the entry-point
    // layer.
    locally {
      import graft.vector.Hnsw
      val embPath = s"$dst/embeddings.parquet"
      val smallIdx = s"$dst/hnswc_recall64" // 32 sub-graphs (built above)
      val bigIdx = s"$dst/hnswc_hops4"      // 4 sub-graphs
      val done = new org.apache.hadoop.fs.Path(
        Hnsw.routePath(bigIdx), "_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done))
        Hnsw.buildIndexClustered(spark.read.parquet(embPath), "embedding",
          "vec_id", bigIdx, Hnsw.Params(m = 8, efC = 64, partitions = 4))
      import spark.implicits._
      val qs = spark.read.parquet(embPath).filter(col("vec_id") < 20)
        .select(col("embedding")).as[Seq[Float]].collect()
      // (mean expanded, mean size, mean scored) per walk — one sweep
      // serves the growth pin AND the flat side of the hier comparison
      // (review r15-4: the flat sweep ran twice)
      def meanExpanded(idx: String): (Double, Double, Double) = {
        val per = qs.flatMap(q =>
          Hnsw.walkStats(spark, idx, q.toArray, k = 10, ef = 64))
        (per.map(_._3).sum.toDouble / per.length,
          per.map(_._2).sum.toDouble / per.length,
          per.map(_._4).sum.toDouble / per.length)
      }
      val (expSmall, szSmall, _) = meanExpanded(smallIdx)
      val (expBig, szBig, scoredFlat) = meanExpanded(bigIdx)
      val growth = expBig / expSmall
      val sizeStep = szBig / szSmall
      val hopsOk = growth <= 3.0
      perfOk &&= hopsOk
      val h = root.putObject("walk_telemetry")
      h.put("ef", 64)
      h.put("subgraph_rows_small", math.round(szSmall * 10) / 10.0)
      h.put("subgraph_rows_big", math.round(szBig * 10) / 10.0)
      h.put("mean_expanded_small", math.round(expSmall * 10) / 10.0)
      h.put("mean_expanded_big", math.round(expBig * 10) / 10.0)
      h.put("size_step", math.round(sizeStep * 100) / 100.0)
      h.put("expansion_growth", math.round(growth * 100) / 100.0)
      h.put("sublog_ok", hopsOk)
      println(f"walk telemetry: expanded $expSmall%.1f@${szSmall}%.0f-row " +
        f"-> $expBig%.1f@${szBig}%.0f-row sub-graphs, growth $growth%.2fx " +
        f"over ${sizeStep}%.1fx size  ok=$hopsOk")
      // r15: the LAYER HIERARCHY, measured against the flat walk on the
      // same big-sub-graph index. The descent picks a near-optimal beam
      // entry; its value is bounding entry-localization cost as sub-graphs
      // grow, so the honest pin here is "no pathology" (hier total work
      // within 2x of flat at this size), with both numbers on the record.
      val hiDone = new org.apache.hadoop.fs.Path(
        Hnsw.layersPath(bigIdx), "_SUCCESS")
      if (!fs.exists(hiDone))
        Hnsw.buildHierarchy(spark, bigIdx,
          Hnsw.Params(m = 8, efC = 64, partitions = 4))
      val perH = qs.flatMap(q =>
        Hnsw.walkStats(spark, bigIdx, q.toArray, k = 10, ef = 64, hier = true))
      val expHier = perH.map(_._3).sum.toDouble / perH.length
      val scoredHier = perH.map(_._4).sum.toDouble / perH.length
      val hierOk = scoredHier <= scoredFlat * 2.0
      perfOk &&= hierOk
      val hh = root.putObject("hier_telemetry")
      hh.put("ef", 64)
      hh.put("subgraph_rows", math.round(szBig * 10) / 10.0)
      hh.put("mean_expanded_flat", math.round(expBig * 10) / 10.0)
      hh.put("mean_expanded_hier", math.round(expHier * 10) / 10.0)
      hh.put("mean_scored_flat", math.round(scoredFlat * 10) / 10.0)
      hh.put("mean_scored_hier", math.round(scoredHier * 10) / 10.0)
      hh.put("no_pathology_ok", hierOk)
      println(f"hier telemetry: expanded flat $expBig%.1f vs hier " +
        f"$expHier%.1f; scored flat $scoredFlat%.1f vs hier " +
        f"$scoredHier%.1f  ok=$hierOk")
      // r16 (r15 VERDICT #2): the hierarchy's MEASURED WIN at the
      // 100 TB-realistic sub-graph size. A 50k-row single sub-graph
      // (factor-25 jitter-tiled corpus, one partition) is where the
      // descent's entry savings overtake its own scoring cost — pinned
      // STRICTLY below flat on both counters. Below the crossover the
      // serving walks auto-skip the descent (Hnsw.DefaultHierMinRows,
      // spec-pinned in HnswSpec), so hier registrations never
      // pay the small-sub-graph overhead this block's 5k numbers record.
      val hugeIdx = s"$dst/hnswc_hier50k"
      val hugeDone = new org.apache.hadoop.fs.Path(
        Hnsw.layersPath(hugeIdx), "_SUCCESS")
      if (!fs.exists(hugeDone)) {
        val corpus50k = replicate(
          spark.read.parquet(s"$src/embeddings.parquet"), 25,
          Seq("vec_id"), Nil, Seq("embedding"))
        Hnsw.buildIndexClustered(corpus50k, "embedding", "vec_id", hugeIdx,
          Hnsw.Params(m = 8, efC = 64, partitions = 1))
        Hnsw.buildHierarchy(spark, hugeIdx,
          Hnsw.Params(m = 8, efC = 64, partitions = 1))
      }
      val (expF50, sz50, scoredF50) = meanExpanded(hugeIdx)
      val perH50 = qs.flatMap(q =>
        Hnsw.walkStats(spark, hugeIdx, q.toArray, k = 10, ef = 64, hier = true))
      val expH50 = perH50.map(_._3).sum.toDouble / perH50.length
      val scoredH50 = perH50.map(_._4).sum.toDouble / perH50.length
      val winOk = expH50 < expF50 && scoredH50 < scoredF50
      perfOk &&= winOk
      val hw = root.putObject("hier_win_telemetry")
      hw.put("ef", 64)
      hw.put("subgraph_rows", math.round(sz50 * 10) / 10.0)
      hw.put("mean_expanded_flat", math.round(expF50 * 10) / 10.0)
      hw.put("mean_expanded_hier", math.round(expH50 * 10) / 10.0)
      hw.put("mean_scored_flat", math.round(scoredF50 * 10) / 10.0)
      hw.put("mean_scored_hier", math.round(scoredH50 * 10) / 10.0)
      hw.put("hier_min_rows_default", Hnsw.DefaultHierMinRows)
      hw.put("hier_beats_flat_ok", winOk)
      println(f"hier 50k telemetry: expanded flat $expF50%.1f vs hier " +
        f"$expH50%.1f; scored flat $scoredF50%.1f vs hier " +
        f"$scoredH50%.1f  win=$winOk")
      // r17 (r16 VERDICT #4): the CROSSOVER, located. The 5k and 50k
      // points bracket a 10x gap; these intermediate single-sub-graph
      // sizes pin where the descent starts paying at ef=64 (scored
      // distances, the walk's real cost). Measured: loses at 10k/20k,
      // wins from 28k — hierMinRows' default (24576) is the bracket
      // midpoint. The bracket pin rides perf_ok (counter-deterministic,
      // but corpus-shape-dependent).
      val cx = root.putObject("hier_crossover")
      var loseAt20k = false
      var winAt28k = false
      Seq(5, 10, 14).foreach { f =>
        val rows = f * 2000
        val cIdx = s"$dst/hnswc_hier${rows / 1000}k"
        val cDone = new org.apache.hadoop.fs.Path(
          Hnsw.layersPath(cIdx), "_SUCCESS")
        if (!fs.exists(cDone)) {
          val corpus = replicate(
            spark.read.parquet(s"$src/embeddings.parquet"), f,
            Seq("vec_id"), Nil, Seq("embedding"))
          Hnsw.buildIndexClustered(corpus, "embedding", "vec_id", cIdx,
            Hnsw.Params(m = 8, efC = 64, partitions = 1))
          Hnsw.buildHierarchy(spark, cIdx,
            Hnsw.Params(m = 8, efC = 64, partitions = 1))
        }
        val (expF, szF, scF) = meanExpanded(cIdx)
        val perHx = qs.flatMap(q =>
          Hnsw.walkStats(spark, cIdx, q.toArray, k = 10, ef = 64, hier = true))
        val expH = perHx.map(_._3).sum.toDouble / perHx.length
        val scH = perHx.map(_._4).sum.toDouble / perHx.length
        if (rows == 20000) loseAt20k = scH > scF
        if (rows == 28000) winAt28k = scH < scF && expH < expF
        val cn = cx.putObject(s"rows_$rows")
        cn.put("subgraph_rows", math.round(szF * 10) / 10.0)
        cn.put("mean_scored_flat", math.round(scF * 10) / 10.0)
        cn.put("mean_scored_hier", math.round(scH * 10) / 10.0)
        cn.put("mean_expanded_flat", math.round(expF * 10) / 10.0)
        cn.put("mean_expanded_hier", math.round(expH * 10) / 10.0)
        println(f"hier crossover @$rows rows: scored flat $scF%.1f vs " +
          f"hier $scH%.1f, expanded $expF%.1f vs $expH%.1f")
      }
      val bracketOk = loseAt20k && winAt28k
      perfOk &&= bracketOk
      cx.put("hier_min_rows_default", Hnsw.DefaultHierMinRows)
      cx.put("default_in_bracket",
        20000 < Hnsw.DefaultHierMinRows && Hnsw.DefaultHierMinRows < 28000)
      cx.put("crossover_bracket_ok", bracketOk)
      println(s"hier crossover: lose@20k=$loseAt20k win@28k=$winAt28k " +
        s"(default ${Hnsw.DefaultHierMinRows} in (20k, 28k))")
      // r17 (r16 VERDICT #7): the QUANTIZED hierarchy's economics at the
      // scale-realistic sub-graph size — the code-space descent pays int8
      // distances where the flat pin pays float ones, so its win is
      // measured on its own index (same 50k corpus, CodeSpace walk).
      val qhIdx = s"$dst/hnswq_hier50k"
      val qhDone = new org.apache.hadoop.fs.Path(
        Hnsw.layersPath(qhIdx), "_SUCCESS")
      if (!fs.exists(qhDone)) {
        val corpus50k = replicate(
          spark.read.parquet(s"$src/embeddings.parquet"), 25,
          Seq("vec_id"), Nil, Seq("embedding"))
        Hnsw.buildIndexClusteredQuantized(corpus50k, "embedding", "vec_id",
          qhIdx, Hnsw.Params(m = 8, efC = 64, partitions = 1))
        Hnsw.buildHierarchy(spark, qhIdx,
          Hnsw.Params(m = 8, efC = 64, partitions = 1))
      }
      def meanQ(hier: Boolean): (Double, Double) = {
        val per = qs.flatMap(q => Hnsw.walkStatsQuantized(spark, qhIdx,
          q.toArray, k = 10, ef = 64, hier = hier))
        (per.map(_._3).sum.toDouble / per.length,
          per.map(_._4).sum.toDouble / per.length)
      }
      val (expQF, scQF) = meanQ(hier = false)
      val (expQH, scQH) = meanQ(hier = true)
      val qWinOk = expQH < expQF && scQH < scQF
      perfOk &&= qWinOk
      val qh = root.putObject("quant_hier_win_telemetry")
      qh.put("ef", 64)
      qh.put("subgraph_rows", 50000)
      qh.put("mean_expanded_flat", math.round(expQF * 10) / 10.0)
      qh.put("mean_expanded_hier", math.round(expQH * 10) / 10.0)
      qh.put("mean_scored_flat", math.round(scQF * 10) / 10.0)
      qh.put("mean_scored_hier", math.round(scQH * 10) / 10.0)
      qh.put("quant_hier_beats_flat_ok", qWinOk)
      println(f"quant hier 50k: expanded flat $expQF%.1f vs hier $expQH%.1f; " +
        f"scored flat $scQF%.1f vs hier $scQH%.1f  win=$qWinOk")
    }
    // r16 (r15 VERDICT #1): the OVER-BUDGET batch-join arm at 10× — the
    // whole 20k-row embedding table as the query batch against the
    // clustered graph, with the budget forced far below it so the
    // distributed pid-assignment path serves the join (queries never
    // touch the driver). Pinned: the distributed arm completes and stays
    // within 3× of the broadcast arm on the same batch (it adds one
    // query-side shuffle; at this size the broadcast arm is near its
    // sweet spot, so parity-ish is the honest expectation — the
    // distributed arm's value is that it EXISTS at sizes the broadcast
    // arm cannot survive).
    locally {
      import graft.vector.Hnsw
      val embPath = s"$dst/embeddings.parquet"
      val idx = s"$dst/hnswc_recall64"
      val queries = spark.read.parquet(embPath)
        .selectExpr("vec_id as qid", "embedding as qvec")
      def run(): Double = {
        val t0 = System.nanoTime()
        materialize(Hnsw.knnJoinRouted(spark, idx, queries, "qid", "qvec",
          "vec_id", k = 5, ef = 64, probes = 2))
        (System.nanoTime() - t0) / 1e9
      }
      val secBroadcast = { run(); run() } // warm + measure
      spark.conf.set("spark.graft.knnJoin.maxQueryBatch", "2048")
      val before = graft.vector.Knn.overBudgetJoins.get()
      val secDistributed =
        try { run(); run() }
        finally spark.conf.unset("spark.graft.knnJoin.maxQueryBatch")
      val engaged = graft.vector.Knn.overBudgetJoins.get() > before
      val ratio = secDistributed / math.max(secBroadcast, 1e-9)
      // `engaged` is a correctness-of-instrumentation flag (the budget
      // arm must actually fire); the 3.0 ratio is the perf contrast
      allOk &&= engaged
      val bjOk = engaged && ratio <= 3.0
      perfOk &&= bjOk
      val bj = root.putObject("batch_join_budget")
      bj.put("query_rows", 20000)
      bj.put("budget", 2048)
      bj.put("sec_broadcast_arm", math.round(secBroadcast * 100) / 100.0)
      bj.put("sec_distributed_arm", math.round(secDistributed * 100) / 100.0)
      bj.put("ratio", math.round(ratio * 100) / 100.0)
      bj.put("over_budget_engaged", engaged)
      bj.put("distributed_arm_ok", bjOk)
      println(f"batch-join budget: broadcast $secBroadcast%.2fs vs " +
        f"distributed $secDistributed%.2fs (ratio $ratio%.2f) ok=$bjOk")
    }
    // r17 (r16 VERDICT #1 done-criterion): the IVF-ADC batch join's
    // over-budget arm at 10x — the whole 20k-row table as the query
    // batch, budget forced below it so the list-shuffled distributed
    // screen serves the join (never collects). nprobe < nlist keeps the
    // probe-pruned economy under contrast.
    locally {
      import graft.vector.Ivf
      val embPath = s"$dst/embeddings.parquet"
      val emb = spark.read.parquet(embPath)
      val idxPath = s"$dst/ivfpq_budget"
      val m = Ivf.train(emb, "embedding", nlist = 32)
      val done = new org.apache.hadoop.fs.Path(idxPath, "_SUCCESS")
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pq =
        if (!fs.exists(done))
          Ivf.buildIndexPq(emb, "embedding", "vec_id", m, idxPath)
        else {
          val assigned = Ivf.assign(emb, "embedding", m)
            .withColumn("ivf_res",
              Ivf.residualCol(col("embedding"), col("ivf_cluster"), m))
          graft.vector.Quantize.trainPq(assigned, "ivf_res", "vec_id")
        }
      val queries = emb.selectExpr("vec_id as qid", "embedding as qvec")
      def run(): Double = {
        val t0 = System.nanoTime()
        materialize(Ivf.knnJoinPq(spark, idxPath, m, pq, queries,
          "qid", "qvec", "cid", "vec_id", "embedding",
          k = 5, nprobe = 4, refine = 32))
        (System.nanoTime() - t0) / 1e9
      }
      val secBroadcast = { run(); run() }
      spark.conf.set("spark.graft.knnJoin.maxQueryBatch", "2048")
      val before = graft.vector.Knn.overBudgetJoins.get()
      val beforeD = graft.vector.Knn.distributedScreens.get()
      val secDistributed =
        try { run(); run() }
        finally spark.conf.unset("spark.graft.knnJoin.maxQueryBatch")
      val engaged = graft.vector.Knn.overBudgetJoins.get() > before &&
        graft.vector.Knn.distributedScreens.get() > beforeD
      val ratio = secDistributed / math.max(secBroadcast, 1e-9)
      allOk &&= engaged
      val bjOk = engaged && ratio <= 3.0
      perfOk &&= bjOk
      val bj = root.putObject("adc_batch_join_budget")
      bj.put("query_rows", 20000)
      bj.put("budget", 2048)
      bj.put("nprobe", 4)
      bj.put("sec_broadcast_arm", math.round(secBroadcast * 100) / 100.0)
      bj.put("sec_distributed_arm", math.round(secDistributed * 100) / 100.0)
      bj.put("ratio", math.round(ratio * 100) / 100.0)
      bj.put("distributed_screen_engaged", engaged)
      bj.put("distributed_arm_ok", bjOk)
      println(f"ADC batch-join budget: broadcast $secBroadcast%.2fs vs " +
        f"distributed $secDistributed%.2fs (ratio $ratio%.2f) ok=$bjOk")
    }
    // r19 (r18 VERDICT #6): IP deep-scale telemetry — the MIPS serving
    // claim with the same measured evidence the L2 rows carry. Two
    // numbers: (1) routed-graph INNER-PRODUCT recall@10 at serving ef=64
    // on the 10x corpus (floor-pinned like graph_recall — the sidecar
    // bounds in the augmented space, the walk scores raw 1-dot), and
    // (2) the augmented-space IVF-ADC batch join's broadcast-vs-
    // distributed arm contrast at 10x (the adc_batch_join_budget shape
    // under metric=IP).
    locally {
      import graft.vector.{Hnsw, Ivf, Knn}
      val embPath = s"$dst/embeddings.parquet"
      val emb = spark.read.parquet(embPath)
      import spark.implicits._
      val ipBlock = root.putObject("ip_deep_scale")
      // --- routed graph IP recall@10 at ef=64 ---
      val gIdx = s"$dst/hnswc_ip_recall64"
      val gDone = new org.apache.hadoop.fs.Path(Hnsw.routePath(gIdx), "_SUCCESS")
      val gFs = gDone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!gFs.exists(gDone))
        Hnsw.buildIndexClustered(emb, "embedding", "vec_id", gIdx,
          Hnsw.Params(m = 8, efC = 64, partitions = 32), Knn.IP)
      val qs = emb.filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      val k = 10
      var recSum = 0.0
      var probedSum = 0L
      // r20 (VERDICT r19): JOBS-PER-ROUTED-SEARCH — each walk job is one
      // driver job launch (~100 ms of scheduling on a real cluster). The
      // schedule runs at most two (the nearest sub-graph, then every
      // sub-graph its kth cannot prune; later rounds replay over those
      // results): one job exactly when one sub-graph is probed. The pin
      // here records that per search; the walked count beside the probed
      // one is the walk work the second job pays for it.
      var roundsSum = 0L
      var walkedSum = 0L
      var roundsBoundOk = true
      qs.foreach { case (_, qv) =>
        val q = qv.toArray
        // tie-inclusive exact IP top-k (replica jitter ⇒ near-ties)
        val nn = Knn.knn(emb, "embedding", "vec_id", q, 20 * k, Knn.IP)
          .select(col("vec_id"), col("dist")).as[(Long, Double)].collect()
        val dk = nn(k - 1)._2
        val tieSet = nn.iterator.filter(_._2 <= dk + 1e-9).map(_._1).toSet
        val r0 = Hnsw.probeRounds.get()
        val w0 = Hnsw.walkedSubgraphs.get()
        val (routedDf, probed) = Hnsw.searchRouted(spark, gIdx,
          "vec_id", q, k, ef = 64)
        val rounds = Hnsw.probeRounds.get() - r0
        roundsSum += rounds
        walkedSum += Hnsw.walkedSubgraphs.get() - w0
        roundsBoundOk &&= rounds == math.min(probed, 2)
        val got = routedDf.select(col("vec_id")).as[Long].collect().toSet
        recSum += got.count(tieSet.contains).toDouble / k
        probedSum += probed
      }
      val meanRecall = recSum / qs.length
      val meanProbed = probedSum.toDouble / qs.length
      val subGraphs = spark.read.parquet(Hnsw.routePath(gIdx)).count()
      val floorOk = meanRecall >= 0.95
      allOk &&= floorOk
      allOk &&= roundsBoundOk
      ipBlock.put("graph_ef", 64); ipBlock.put("k", k)
      ipBlock.put("queries", qs.length)
      ipBlock.put("graph_mean_recall", math.round(meanRecall * 1e4) / 1e4)
      ipBlock.put("graph_mean_probed_subgraphs",
        math.round(meanProbed * 100) / 100.0)
      ipBlock.put("graph_mean_walked_subgraphs",
        math.round(walkedSum * 100.0 / qs.length) / 100.0)
      ipBlock.put("graph_total_subgraphs", subGraphs)
      ipBlock.put("graph_floor_ok", floorOk)
      ipBlock.put("mean_probe_rounds",
        math.round(roundsSum * 100.0 / qs.length) / 100.0)
      ipBlock.put("probe_rounds_bound_ok", roundsBoundOk)
      println(f"IP graph recall@10 ef=64: $meanRecall%.4f  " +
        f"probed $meanProbed%.1f/$subGraphs sub-graphs  " +
        f"rounds ${roundsSum.toDouble / qs.length}%.1f (bound ok=" +
        f"$roundsBoundOk)  ok=$floorOk")
      // --- augmented-space ADC batch join, broadcast vs distributed ---
      val aIdx = s"$dst/ivfpq_ip_budget"
      val aDone = new org.apache.hadoop.fs.Path(aIdx, "_SUCCESS")
      val aFs = aDone.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the trained (coarse, pq) pair persists BESIDE the index it coded
      // (ADVICE r19): distributed float k-means is not bitwise
      // reproducible across runs, so a reuse branch that retrains would
      // pair fresh models with a PREVIOUS run's codes and skew the
      // broadcast-vs-distributed telemetry; a sidecar-less index (older
      // layout) rebuilds rather than guesses
      val aModels = new org.apache.hadoop.fs.Path(aIdx, "_GRAFT_BENCH_MODELS")
      def buildIpAdc(): (Ivf.Model, graft.vector.Quantize.PqModel) = {
        // coarse model L2 over the augmented companion (the IP ADC
        // layout); dim 64 + 1 = 65 = 5·13 → subM = 5
        val aug = Ivf.ipAugmentedCompanion(emb, "embedding", "embaug")
        val am0 = Ivf.train(aug, "embaug", nlist = 32)
        val apq0 = Ivf.buildIndexPq(emb, "embedding", "vec_id", am0, aIdx,
          subM = 5, metric = Knn.IP)
        val oos = new java.io.ObjectOutputStream(aFs.create(aModels, true))
        try { oos.writeObject(am0); oos.writeObject(apq0) }
        finally oos.close()
        (am0, apq0)
      }
      val (am, apq) =
        if (!aFs.exists(aDone) || !aFs.exists(aModels)) buildIpAdc()
        else try {
          val ois = new java.io.ObjectInputStream(aFs.open(aModels))
          try (ois.readObject().asInstanceOf[Ivf.Model],
            ois.readObject().asInstanceOf[graft.vector.Quantize.PqModel])
          finally ois.close()
        } catch {
          // a model-class evolution (or truncated sidecar) rebuilds the
          // pair rather than crashing the bench — codes and models must
          // come from the SAME run either way
          case _: Exception => buildIpAdc()
        }
      val aQueries = emb.selectExpr("vec_id as qid", "embedding as qvec")
      def runIp(): Double = {
        val t0 = System.nanoTime()
        materialize(Ivf.knnJoinPq(spark, aIdx, am, apq, aQueries,
          "qid", "qvec", "cid", "vec_id", "embedding",
          k = 5, nprobe = 4, refine = 32, metric = Knn.IP))
        (System.nanoTime() - t0) / 1e9
      }
      val ipBroadcast = { runIp(); runIp() }
      spark.conf.set("spark.graft.knnJoin.maxQueryBatch", "2048")
      val ipBefore = graft.vector.Knn.overBudgetJoins.get()
      val ipDistributed =
        try { runIp(); runIp() }
        finally spark.conf.unset("spark.graft.knnJoin.maxQueryBatch")
      val ipEngaged = graft.vector.Knn.overBudgetJoins.get() > ipBefore
      val ipRatio = ipDistributed / math.max(ipBroadcast, 1e-9)
      allOk &&= ipEngaged
      val ipJoinOk = ipEngaged && ipRatio <= 3.0
      perfOk &&= ipJoinOk
      ipBlock.put("adc_query_rows", 20000)
      ipBlock.put("adc_budget", 2048)
      ipBlock.put("adc_nprobe", 4)
      ipBlock.put("adc_sec_broadcast_arm", math.round(ipBroadcast * 100) / 100.0)
      ipBlock.put("adc_sec_distributed_arm", math.round(ipDistributed * 100) / 100.0)
      ipBlock.put("adc_ratio", math.round(ipRatio * 100) / 100.0)
      ipBlock.put("adc_distributed_engaged", ipEngaged)
      ipBlock.put("adc_distributed_arm_ok", ipJoinOk)
      println(f"IP ADC batch-join: broadcast $ipBroadcast%.2fs vs " +
        f"distributed $ipDistributed%.2fs (ratio $ipRatio%.2f) ok=$ipJoinOk")
    }
    // r17 (r16 VERDICT #6): a SECOND scaling decade for the two most
    // composite flagships — 25x backs the 100 TB extrapolation with a
    // point beyond the 10x everything else rides (same linear bound,
    // factor-adjusted). v7's row measures the screen at SERVING beam
    // width (ef=64): the gate's full-ef screen is an exact NN join whose
    // |batch|·|corpus| work is quadratic BY DEFINITION — exactness
    // semantics, not an engine shape (PipelineQueries.v7ScreenServing).
    locally {
      val factor25 = 25
      val dst25 = s"${dst}_25x"
      buildScaled(spark, src, dst25, factor25)
      val fl = root.putObject("flagship_deep_scale")
      fl.put("factor", factor25)
      var deepOk = true
      Seq[(String, (SparkSession, String) => DataFrame)](
        ("q_pipeline_v6", SparkEntry.queries("q_pipeline_v6")),
        ("v7_screen_ef64", graft.queries.PipelineQueries.v7ScreenServing))
        .foreach { case (name, fn) =>
        val small = median3(fn, src)
        val large = median3(fn, dst25)
        val ratio = if (small > 0) large / small else -1.0
        val ok = large <= small * factor25 * 1.5 + 1.0
        deepOk &&= ok
        val n = fl.putObject(name)
        n.put("small_sec", math.round(small * 1e4) / 1e4)
        n.put("large_sec", math.round(large * 1e4) / 1e4)
        n.put("ratio", math.round(ratio * 100) / 100.0)
        n.put("linear_ok", ok)
        println(f"$name%-16s 25x: $small%8.3fs -> $large%8.3fs  " +
          f"ratio $ratio%6.2f  ok=$ok")
      }
      allOk &&= deepOk
      fl.put("deep_scale_ok", deepOk)
      // r18 (VERDICT r17 #7): routed-graph RECALL at the second scaling
      // decade — the 10x block pins recall@10 >= 0.95 at serving ef=64;
      // this row extends the index-economics claim to the 25x corpus at
      // the same beam width and protocol (tie-inclusive: replica jitter
      // lands near-neighbors within ~1e-9).
      locally {
        import graft.vector.{Hnsw, Knn}
        val embPath = s"$dst25/embeddings.parquet"
        val idxPath = s"$dst25/hnswc_recall64"
        val done = new org.apache.hadoop.fs.Path(
          Hnsw.routePath(idxPath), "_SUCCESS")
        val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(done))
          // partitions scale with the corpus so per-sub-graph rows match
          // the 10x index's (~6k): the recall point isolates CORPUS scale,
          // not sub-graph-size drift
          Hnsw.buildIndexClustered(spark.read.parquet(embPath), "embedding",
            "vec_id", idxPath, Hnsw.Params(m = 8, efC = 64, partitions = 80))
        val emb = spark.read.parquet(embPath)
        import spark.implicits._
        val qs = emb.filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect()
        val k = 10
        var recSum = 0.0
        var probedSum = 0L
        qs.foreach { case (_, qv) =>
          val q = qv.toArray
          val nn = Knn.knn(emb, "embedding", "vec_id", q, 20 * k)
            .select(col("vec_id"), col("dist")).as[(Long, Double)].collect()
          val dk = nn(k - 1)._2
          val tieSet = nn.iterator.filter(_._2 <= dk + 1e-9).map(_._1).toSet
          val (routedDf, probed) = Hnsw.searchRouted(spark, idxPath,
            "vec_id", q, k, ef = 64)
          val got = routedDf.select(col("vec_id")).as[Long].collect().toSet
          recSum += got.count(tieSet.contains).toDouble / k
          probedSum += probed
        }
        val meanRecall = recSum / qs.length
        val meanProbed = probedSum.toDouble / qs.length
        val subGraphs = spark.read.parquet(Hnsw.routePath(idxPath)).count()
        val floorOk = meanRecall >= 0.95
        allOk &&= floorOk
        val g = root.putObject("graph_recall_25x")
        g.put("factor", factor25)
        g.put("ef", 64); g.put("k", k); g.put("queries", qs.length)
        g.put("mean_recall", math.round(meanRecall * 1e4) / 1e4)
        g.put("mean_probed_subgraphs", math.round(meanProbed * 100) / 100.0)
        g.put("total_subgraphs", subGraphs)
        g.put("floor_ok", floorOk)
        println(f"graph recall@10 ef=64 AT 25x: $meanRecall%.4f  " +
          f"probed $meanProbed%.1f/$subGraphs sub-graphs  ok=$floorOk")
      }
      // r20 (VERDICT r19 #3): IP recall at the SECOND scaling decade —
      // the 10x ip_deep_scale block pins the routed-IP floor at 32
      // sub-graphs; this row re-measures the Cauchy–Schwarz + sphere
      // bound pair's probe economy where the schedule widens to 80, same
      // beam width and tie-inclusive protocol.
      locally {
        import graft.vector.{Hnsw, Knn}
        val embPath = s"$dst25/embeddings.parquet"
        val idxPath = s"$dst25/hnswc_ip_recall64"
        val done = new org.apache.hadoop.fs.Path(
          Hnsw.routePath(idxPath), "_SUCCESS")
        val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(done))
          // partitions scale with the corpus (the graph_recall_25x
          // rationale): per-sub-graph rows match the 10x IP index's
          Hnsw.buildIndexClustered(spark.read.parquet(embPath), "embedding",
            "vec_id", idxPath, Hnsw.Params(m = 8, efC = 64, partitions = 80),
            Knn.IP)
        val emb = spark.read.parquet(embPath)
        import spark.implicits._
        val qs = emb.filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect()
        val k = 10
        var recSum = 0.0
        var probedSum = 0L
        var roundsSum = 0L
        var walkedSum = 0L
        var roundsBoundOk = true
        qs.foreach { case (_, qv) =>
          val q = qv.toArray
          val nn = Knn.knn(emb, "embedding", "vec_id", q, 20 * k, Knn.IP)
            .select(col("vec_id"), col("dist")).as[(Long, Double)].collect()
          val dk = nn(k - 1)._2
          val tieSet = nn.iterator.filter(_._2 <= dk + 1e-9).map(_._1).toSet
          val r0 = Hnsw.probeRounds.get()
          val w0 = Hnsw.walkedSubgraphs.get()
          val (routedDf, probed) = Hnsw.searchRouted(spark, idxPath,
            "vec_id", q, k, ef = 64)
          val rounds = Hnsw.probeRounds.get() - r0
          roundsSum += rounds
          walkedSum += Hnsw.walkedSubgraphs.get() - w0
          roundsBoundOk &&= rounds == math.min(probed, 2)
          val got = routedDf.select(col("vec_id")).as[Long].collect().toSet
          recSum += got.count(tieSet.contains).toDouble / k
          probedSum += probed
        }
        val meanRecall = recSum / qs.length
        val meanProbed = probedSum.toDouble / qs.length
        val subGraphs = spark.read.parquet(Hnsw.routePath(idxPath)).count()
        val floorOk = meanRecall >= 0.95
        allOk &&= floorOk
        allOk &&= roundsBoundOk
        val g = root.putObject("ip_recall_25x")
        g.put("factor", factor25)
        g.put("ef", 64); g.put("k", k); g.put("queries", qs.length)
        g.put("mean_recall", math.round(meanRecall * 1e4) / 1e4)
        g.put("mean_probed_subgraphs", math.round(meanProbed * 100) / 100.0)
        g.put("mean_walked_subgraphs",
          math.round(walkedSum * 100.0 / qs.length) / 100.0)
        g.put("total_subgraphs", subGraphs)
        g.put("floor_ok", floorOk)
        g.put("mean_probe_rounds",
          math.round(roundsSum * 100.0 / qs.length) / 100.0)
        g.put("probe_rounds_bound_ok", roundsBoundOk)
        println(f"IP graph recall@10 ef=64 AT 25x: $meanRecall%.4f  " +
          f"probed $meanProbed%.1f/$subGraphs sub-graphs  " +
          f"rounds ${roundsSum.toDouble / qs.length}%.1f  ok=$floorOk")
      }
    }
    root.put("loadavg_end", loadavg())
    root.put("all_linear_ok", allOk)
    root.put("perf_ok", perfOk)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SF1.json"),
      om.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    println(om.writeValueAsString(root))
    spark.stop()
    if (!allOk) sys.exit(2)
  }
}
