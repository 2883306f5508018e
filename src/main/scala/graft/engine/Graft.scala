package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table catalog for the engine.
  *
  * The reference (manticoresoftware/columnar) reads one columnar file per
  * table segment (columnar/columnar.cpp:408-440, 769-789); our segments are
  * Parquet files/directories — Spark's vectorized Parquet reader supplies the
  * per-block adaptive decoding, zone-map (row-group/page stats) pruning and
  * late materialization that the reference hand-rolls per packing
  * (columnar/accessor/accessorint.cpp:137-276, builderminmax.h:138-164).
  *
  * Scale notes (100 TB): every knob here is set so the same code runs on a
  * real cluster — AQE on (runtime re-plan + skew-join handling), shuffle
  * partitions sized for the local harness via constructor arg (a cluster
  * deployment overrides `spark.sql.shuffle.partitions` per job), and
  * broadcast joins left to Catalyst + AQE thresholds.
  */
object Graft {
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def session(appName: String = "graft", master: String = "local[32]",
              shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      // Engine planner rules (hash-companion rewrite, ANN routing,
      // secondary-index access-path routing) — same registration a
      // cluster deployment uses via --conf spark.sql.extensions.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Local fixtures are single small files; with the default 4 MiB
      // openCostInBytes Spark reads each as ONE split and every scan-heavy
      // stage runs single-threaded. Cheap open cost + a minPartitionNum of
      // 2×cores restores split parallelism on small files without changing
      // cluster-scale behavior (large files still split by maxPartitionBytes).
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.sql.files.minPartitionNum", (shufflePartitions * 2).toString)
      // Historical fixtures carried TIMESTAMP(NANOS), which Spark has no
      // native type for — read those as Long epoch nanos. Current fixtures
      // ship timestamp[us] (→ TIMESTAMP_NTZ on read); event-time operators
      // accept either via graft.relational.EventTime.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Storage location of one star-schema table in a scale-factor dir. */
  def tablePath(dir: String, name: String): String = s"$dir/$name.parquet"

  // Analyzed-plan cache for the IMMUTABLE base fixtures (r21 measurement
  // fix, guide §1/§6): every `spark.read.parquet(path)` call re-lists the
  // directory and re-reads a footer for schema inference — pure driver-side
  // metadata work repeated on EVERY query invocation (the bench times each
  // query 3+ times; a 253-query corpus paid this ~1000×). The scale-factor
  // fixtures are read-only by contract (the engine never writes under
  // SPARK_GRAFT_SF_DIR), so the DataFrame — logical plan + file index, NO
  // row data — is reusable for the life of the session. This is the same
  // catalog-first philosophy as IndexRouting's registration (metadata held
  // once, zero per-query footer IO); data is still read from parquet on
  // every execution. Keyed by session so a restarted session (tests) never
  // serves plans bound to a stopped context.
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Load one table of the star schema from a scale-factor directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = tablePath(dir, name)
    tableCache.getOrElseUpdate((spark, path), spark.read.parquet(path))
  }

  // Signature-guarded analyzed-plan cache for ENGINE-WRITTEN directories
  // (r21; same rationale as [[tableCache]], but these dirs can mutate —
  // append segments, rename-swap rewrites, generation commits). The cache
  // key carries a cheap content signature (direct children's name, mtime,
  // length from ONE listStatus — every engine writer adds/renames/removes
  // files in the served dir, so any mutation changes it); a hit skips the
  // recursive listing + footer schema inference spark.read repeats per
  // call, a miss reads fresh. Generation-managed dirs are additionally
  // safe by construction: a commit changes the RESOLVED dir path itself.
  private val dirCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (String, DataFrame)]

  private def dirSignature(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val kids = fs.listStatus(p)
      java.util.Arrays.sort(kids, (a: org.apache.hadoop.fs.FileStatus,
                                   b: org.apache.hadoop.fs.FileStatus) =>
        a.getPath.getName.compareTo(b.getPath.getName))
      val sb = new java.lang.StringBuilder
      kids.foreach { k =>
        sb.append(k.getPath.getName).append(':')
          .append(k.getModificationTime).append(':')
          .append(k.getLen).append(';')
      }
      sb.toString
    } catch { case _: Exception => "" } // unreadable → never cache

  /** Read an engine-written parquet/orc dir through the signature cache.
    * The dir read is the path's LIVE data ([[graft.index.Commit.resolve]]):
    * a manifest-committed generation, or the backup inside a rename swap's
    * crash window. */
  def cachedRead(spark: SparkSession, path: String,
                 format: String = "parquet"): DataFrame = {
    val live = graft.index.Commit.resolve(spark, path)
    val sig = dirSignature(spark, live)
    if (sig.isEmpty) return spark.read.format(format).load(live)
    val key = (spark, live, format)
    dirCache.get(key) match {
      case Some((s, df)) if s == sig => df
      case _ =>
        // bound the cache (r22, VERDICT r21 #6): entries hold a logical
        // plan + InMemoryFileIndex each — small, but a long-lived session
        // touching many store generations would accumulate them without
        // limit. Eviction is a full clear past the cap: the cache is a
        // metadata memo, so a clear only costs one re-listing per live dir.
        if (dirCache.size >= 512) dirCache.clear()
        val df = spark.read.format(format).load(live)
        dirCache(key) = (sig, df)
        df
    }
  }

  /** Drop every cached analyzed plan for `path` — called by the engine's
    * write paths after committing files there (r22, VERDICT r21 #5). The
    * signature re-check in [[cachedRead]] already catches every real
    * writer today (all add/rename/remove direct children), but the
    * signature is (name, mtime-ms, length) of direct children only: a
    * rewrite that preserves names and lengths and lands within the same
    * millisecond, or a mutation confined to nested subdirectories, would
    * serve a stale plan. The explicit invalidate closes that hole at the
    * writer — one refactor can no longer turn it into a silent
    * wrong-result bug. */
  def invalidate(path: String): Unit =
    // prefix match: one invalidate at an index's base path also drops its
    // generation subdirs and sidecar dirs (`<path>/gen-*`, `<path>_route`,
    // `<path>_layers`, …) — over-invalidation only ever costs a re-listing
    dirCache.keys.filter(_._2.startsWith(path)).foreach(dirCache.remove)
}
