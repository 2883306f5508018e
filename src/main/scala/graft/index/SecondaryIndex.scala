package graft.index

import graft.engine.Graft.cachedRead
import graft.plans.PostingsLookupExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Secondary-index analog (SURVEY §2.4, I1-I4/I6/I9 + F5-via-index): a
  * value-sorted index table with CHUNKED rowid postings per indexed column
  * — the Spark shape of the reference's PGM-over-distinct-values +
  * compressed rowid posting BLOCKS (`ROW_BLOCKS_LIST`,
  * secondary/blockreader.h:82-89; builder.cpp:43-44 `ROWIDS_PER_BLOCK
  * 1024`; iterator.cpp:30-334). Serves point (`lookupKeys`), value-range
  * (`lookupRangeKeys`) and NOTNULL (`lookupNotNullKeys`) filters plus
  * index-only counts of all three shapes; maintained incrementally via
  * the segment model (`appendSegment`/`compact`); validated by
  * [[IndexCheck]].
  *
  * Layout: one row per (value, chunk) where `chunk = key div 1024`:
  * `(value, chunk, cnt, rowids[<=1024], chunk_min, chunk_max)`. Because the
  * indexed key uniquely identifies fact rows (the engine's rowid), a
  * 1024-wide key range can hold at most 1024 keys — so EVERY posting row is
  * bounded by construction, exactly like the reference's 1024-rowid blocks.
  * The round-4 layout (`sort_array(collect_list)` per value) built a single
  * unchunked array per value: for a low-ndv column at 100 TB (5 priorities
  * over 10^9 orders) that is a ~10^8-element row — single-task build skew
  * and an unshippable record (VERDICT r4 #2). The chunked build is a plain
  * hash aggregation on (value, chunk): fully distributed, no window, no
  * per-value hotspot, and no row exceeds the chunk bound.
  *
  * What replaces what:
  *  - PGM learned index over sorted distinct values (pgm.h:43-155) → the
  *    index table is WRITTEN range-clustered by (value, chunk). Postings
  *    past [[PostingsLookupExec.PushedBytes]] (4 MB) take the lookup's
  *    value conditions into the Parquet scan, which skips files and row
  *    groups by their stats — the O(log) skip the learned index buys,
  *    supplied by the storage layout. Smaller postings are read whole:
  *    their rows are held on the driver after the first read (the
  *    reference's block cache of decoded postings), or scanned whole
  *    when they do not fit the result budget.
  *  - rowid posting blocks with per-block min/max (blockreader.h:82-89) →
  *    the (chunk_min, chunk_max) columns: a rowid-window probe skips whole
  *    chunks before exploding anything (the reference's block-level seek).
  *  - CalcCount without materialization (secondary.cpp:774-812) → sum of
  *    the stored per-chunk `cnt`: over held postings rows on the driver,
  *    with no job; past the size gate, an aggregate over the postings.
  *
  * 100 TB notes: the index build is one shuffle of (value, chunk, key)
  * triples. A [[semiJoin]] of a fact scan with a lookup's keys is planned
  * as one [[graft.plans.PostingsLookupExec]]: the keys are taken to the
  * driver within a key budget (a quarter of `spark.driver.maxResultSize`,
  * at most 64 MB of 8-byte keys) — from held postings rows with no job,
  * else by one job whose tasks each send at most their share — and the
  * query's own job keeps the fact rows whose key is among them; past the
  * budget the fact rows co-group with the keys by key (one shuffle of
  * both). High-ndv columns give many short posting rows; low-ndv columns
  * give many CHUNKS of the same value — either way rows stay bounded and
  * the index table is tiny next to the fact table.
  */
object SecondaryIndex {

  /** Postings chunk width in key units (ref ROWIDS_PER_BLOCK = 1024,
    * secondary/builder.cpp:43-44). */
  val RowidsPerChunk = 1024L

  /** Chunked-postings aggregation shared by [[build]] and
    * [[appendSegment]]. */
  private def postings(df: DataFrame, valueCol: String,
                       keyCol: String): DataFrame = {
    // a NULL rowid key silently corrupts the index (cnt counts the row,
    // collect_list drops it — calcCount then disagrees with what lookups
    // can ever return); fail loudly per offending row, zero cost on the
    // non-null path (r19 review). The guard sits on the POST-cast value
    // (ADVICE r19): under non-ANSI casting a garbage string key casts to
    // NULL, which a pre-cast guard waves through into the exact
    // corruption it exists to stop — try_cast keeps that path reachable
    // (and loud) even when ANSI mode would itself have thrown. NULL
    // VALUES are legitimate — the facet route must carry the null group
    // exactly as groupBy(col) does.
    val casted = col(keyCol).try_cast("long")
    val key = when(col(keyCol).isNull, raise_error(lit(
        s"secondary index build: NULL $keyCol — the rowid key must " +
          "identify every row; filter or repair null-key rows first")))
      .when(casted.isNull, raise_error(concat(lit(
        s"secondary index build: non-castable $keyCol value '"),
        col(keyCol).cast("string"),
        lit("' — the rowid key must cast to LONG for every row"))))
      .otherwise(casted)
    // floor division via (k - pmod(k, W)) / W — exact in long arithmetic,
    // so negative keys chunk correctly (for non-negative keys this is
    // plain `div`). Built from Column ops, never a SQL string: a
    // reserved-word or special-character keyCol ("order", "key-id") must
    // build like any other column (review r18-3).
    val w = lit(RowidsPerChunk)
    df.select(col(valueCol).as("value"), key.as("k"),
        // `div` (integral divide) keeps LONG semantics — `/` would go
        // through double and lose exactness above 2^53
        call_function("div", key - pmod(key, w), w).as("chunk"))
      .groupBy(col("value"), col("chunk"))
      .agg(count(lit(1)).as("cnt"),
        sort_array(collect_list(col("k"))).as("rowids"),
        min(col("k")).as("chunk_min"),
        max(col("k")).as("chunk_max"))
  }

  /** Build the index table for `valueCol` with postings of `keyCol`
    * (the fact table's join key — the reference's implicit dense rowid;
    * Parquet tables have no stable physical rowid, so the engine indexes
    * the logical key instead). `keyCol` must uniquely identify rows of
    * `df`, exactly as the reference's rowid does — otherwise the semi-join
    * widens the result to all rows sharing a key, and the <=1024 chunk
    * bound no longer holds. */
  def build(df: DataFrame, valueCol: String, keyCol: String,
            path: String, files: Int = 1): Unit = {
    Commit.requireUnmanaged(df.sparkSession, path,
      "appendSegment + compactManifest")
    graft.tables.Writer.write(postings(df, valueCol, keyCol), path,
      sortBy = Seq("value", "chunk"), files = files)
    // an in-place REBUILD invalidates any routing entry that cached the
    // old file listing (registration normally follows the build; this
    // covers rebuild-after-register, same as Ivf.buildIndex)
    graft.plans.IndexRouting.onIndexMutated(df.sparkSession, path)
  }

  /** MVA variant — the reference's secondary index covers UINT32SET /
    * INT64SET columns (common/schema.h:29-44): the builder posts EACH set
    * element, so an `ANY(col)` filter gets index acceleration like a
    * scalar VALUES filter. Explodes `arrayCol` (through `array_distinct`,
    * mirroring the reference builder's sort+dedup of MVA sets) so each
    * element becomes a postings value; NULL/empty arrays produce no
    * postings (the empty-set convention — NOTNULL-via-index then means
    * "non-empty", the reference's F5 semantics).
    *
    * A key now legitimately appears under SEVERAL values (one per distinct
    * element of its row's set), so the scalar layout's invariant 6
    * (sum(cnt) == distinct keys) relaxes to per-(value, key) uniqueness —
    * [[IndexCheck]] validates with `mva = true`. Lookups/counts work
    * unchanged for single values; multi-value lookups may repeat keys in
    * the stream ([[semiJoin]] is duplicate-insensitive) and [[calcCount]]
    * over several values counts row-OCCURRENCES, not rows — the same
    * semantics as the reference's per-value postings counts. */
  def buildMva(df: DataFrame, arrayCol: String, keyCol: String,
               path: String, files: Int = 1): Unit =
    build(
      df.select(explode(array_distinct(col(arrayCol))).as("__mva_value"),
        col(keyCol)),
      "__mva_value", keyCol, path, files)

  /** I9: incremental maintenance, the reference's SEGMENT model — each
    * ingested batch carries its own secondary index, and OPTIMIZE merges
    * segments (RT segments each hold per-segment indexes; merge compacts
    * them). Appends `newRows`' postings as additional files of the index
    * dir, range-clustered within the segment. Every read path (lookups,
    * range lookups, NOTNULL, CalcCount) is correct IMMEDIATELY: a (value,
    * chunk) group split across segments unions at explode time, and counts
    * sum. `newRows` keys must be new (the unique-rowid contract — enforced
    * after the fact by [[IndexCheck]]'s sum(cnt)==distinct-keys pass).
    *
    * Cost model at 100 TB: an append touches ONLY the new batch (one
    * aggregation of its rows) — never the existing index; pruning economy
    * degrades gradually as segments accumulate until [[compact]] restores
    * the canonical layout (the reference's segment-merge trade). */
  def appendSegment(newRows: DataFrame, valueCol: String, keyCol: String,
                    indexPath: String, files: Int = 1): Unit = {
    postings(newRows, valueCol, keyCol)
      .repartitionByRange(files, col("value"), col("chunk"))
      .sortWithinPartitions(col("value"), col("chunk"))
      // resolve: on a manifest-managed index the live data sits in the
      // current generation dir, not at the base path
      .write.mode("append")
      .parquet(Commit.resolve(newRows.sparkSession, indexPath))
    // routing entries cached an analyzed relation whose file listing
    // predates this append — drop them (re-register to resume routing)
    graft.plans.IndexRouting.onIndexMutated(newRows.sparkSession, indexPath)
  }

  /** I9: OPTIMIZE — merge all segments back to the canonical
    * one-row-per-(value, chunk) clustered layout (the reference's segment
    * merge): re-aggregate from the exploded postings into a sibling dir,
    * then swap it in with [[Commit.swapInPlace]] — a crash between its two
    * renames leaves the old index intact at `<path>_old`, never a
    * destroyed index. After compaction [[IndexCheck]]'s full invariant set
    * (incl. (value, chunk) uniqueness and cross-file clustering) holds
    * again. */
  def compact(spark: SparkSession, indexPath: String, files: Int = 1): Unit =
    rewriteInPlace(spark, indexPath, files)(identity)

  /** Row-DELETION maintenance (the reference invalidates and re-derives
    * affected secondary indexes when rows mutate,
    * secondary/secondary.cpp:414-434; DELETE is the flow this engine
    * serves directly): subtract the deleted rowids from the postings IN
    * PLACE. The index re-derives from its OWN exploded postings minus
    * the deleted keys — one anti-join plus the canonical re-aggregation
    * of INDEX rows; the fact table is never re-scanned (at 100 TB the
    * index is orders of magnitude smaller than its fact). Correct on
    * scalar AND MVA layouts: subtraction is by KEY, so a deleted row's
    * postings vanish under every value it was posted under, and on
    * segmented indexes every segment row drops its own copies (keys are
    * unique per layout invariant 6). Same [[Commit.swapInPlace]] as
    * [[compact]] and the same onIndexMutated invalidation (re-register to
    * resume routing). The caller owns the FACT side: rewrite/filter the fact
    * table first, then delete its keys here ([[IndexCheck]]'s fact
    * reconciliation catches the stale window in between).
    *
    * `deletedKeys` is any one-column-compatible frame; `keyCol` names
    * the key column in it. NULL keys are ignored (they can never match
    * a posting — builds refuse null rowids). */
  def deleteKeys(spark: SparkSession, indexPath: String,
                 deletedKeys: DataFrame, keyCol: String,
                 files: Int = 1): Unit = {
    val del = deletedKeys.select(col(keyCol).cast("long").as("__delkey"))
      .filter(col("__delkey").isNotNull).distinct()
    rewriteInPlace(spark, indexPath, files)(exploded =>
      exploded.join(del, exploded("k") === del("__delkey"), "left_anti"))
  }

  /** Shared rewrite-and-swap body of [[compact]] and [[deleteKeys]]:
    * explode the live postings to (value, k), apply `transform`, and
    * re-aggregate through [[Commit.swapInPlace]]. */
  private def rewriteInPlace(spark: SparkSession, indexPath: String,
                             files: Int)
                            (transform: DataFrame => DataFrame): Unit = {
    // mixing the rename and manifest commit schemes would strand readers
    // on a stale generation
    Commit.requireUnmanaged(spark, indexPath, "compactManifest")
    Commit.swapInPlace(spark, indexPath) { tmp =>
      val exploded = spark.read.parquet(indexPath)
        .select(col("value"), explode(col("rowids")).as("k"))
      build(transform(exploded), "value", "k", tmp, files)
    }
    graft.plans.IndexRouting.onIndexMutated(spark, indexPath)
  }

  /** Postings rows passing `pred` → keys, with the optional rowid-window
    * seek: chunks whose [chunk_min, chunk_max] miss the window are skipped
    * BEFORE exploding (the reference's per-block min/max seek,
    * blockreader.h:82-89), in the same filter as `pred`.
    *
    * The key stream is NOT deduplicated: for scalar indexes keys are unique
    * by layout invariant 6 (sum(cnt) == distinct keys, enforced by
    * [[IndexCheck]]; [[appendSegment]]'s contract requires new keys), so a
    * defensive distinct would be a second full shuffle of every matched key
    * — at 100 TB it roughly doubles a broad range lookup's shuffle volume
    * for nothing (VERDICT r8). A MULTI-VALUED index ([[buildMva]]) may
    * repeat a key across several matched values; [[semiJoin]] (left_semi)
    * is duplicate-insensitive, so every consumer stays correct there too. */
  private def postingsToKeys(spark: SparkSession, indexPath: String,
                             pred: Column,
                             keyRange: Option[(Long, Long)]): DataFrame = {
    val postings = cachedRead(spark, indexPath)
    keyRange match {
      case Some((lo, hi)) =>
        postings.filter(pred && col("chunk_max") >= lo && col("chunk_min") <= hi)
          .select(explode(col("rowids")).as("key"))
          .filter(col("key") >= lo && col("key") <= hi)
      case None => postings.filter(pred).select(explode(col("rowids")).as("key"))
    }
  }

  /** I9 OPTIMIZE with an OBJECT-STORE-SAFE commit (VERDICT r8 #7): the
    * rename-based [[compact]] is correct where rename is atomic (HDFS,
    * local FS), but on object stores a directory rename is a per-file
    * copy+delete — a crash mid-rename leaves PARTIAL directories at both
    * paths. This variant never renames data: it re-aggregates the live
    * generation into a new one committed by [[Commit.commitGeneration]]
    * (one manifest object per commit; every crash interleaving leaves a
    * readable, checkable index; the previous generation is retained one
    * cycle).
    *
    * First call migrates a legacy (rename-scheme or plain-build) dir:
    * the base dir keeps the gen-0 data until the commit lands, then is
    * superseded ([[Commit.resolve]] prefers the manifest). Mixing schemes
    * afterwards is rejected by [[compact]]. [[appendSegment]] composes:
    * it writes into the RESOLVED generation. */
  def compactManifest(spark: SparkSession, indexPath: String,
                      files: Int = 1): Unit = {
    Commit.commitGeneration(spark, indexPath) { (live, next) =>
      val exploded = spark.read.parquet(live)
        .select(col("value"), explode(col("rowids")).as("k"))
      build(exploded, "value", "k", next, files)
    }
    graft.plans.IndexRouting.onIndexMutated(spark, indexPath)
  }

  /** Index-table predicate for a value interval; None = open bound (the
    * reference's half-open RANGE forms, common/filter.h LeftUnbounded /
    * RightUnbounded). A RANGE matches VALUES, so the NULL posting group is
    * always excluded — including the fully-unbounded form, which would
    * otherwise diverge from every one-sided spelling (SQL comparisons
    * already reject NULL there). */
  private def valueRangePred(lo: Option[Any], hi: Option[Any],
                             loInclusive: Boolean, hiInclusive: Boolean) = {
    val loP = lo.map(v => if (loInclusive) col("value") >= lit(v)
                          else col("value") > lit(v))
    val hiP = hi.map(v => if (hiInclusive) col("value") <= lit(v)
                          else col("value") < lit(v))
    (loP.toSeq ++ hiP.toSeq).foldLeft(col("value").isNotNull)(_ && _)
  }

  /** I3/I4: point lookup → postings → distinct keys (the rowid stream).
    * `values` = IN-list semantics (F1 via index). */
  def lookupKeys(spark: SparkSession, indexPath: String, values: Seq[Any],
                 keyRange: Option[(Long, Long)] = None): DataFrame =
    postingsToKeys(spark, indexPath, col("value").isin(values: _*), keyRange)

  /** I3: VALUE-range lookup — RANGE/FLOATRANGE filters served from the
    * index (ref FixupFilter, secondary/secondary.cpp:680-744; the PGM
    * searches both interval bounds, pgm.h:105-155). The index table is
    * written range-clustered by value, so the interval predicate prunes to
    * the files/row-groups whose value min/max intersect it — the storage
    * layout supplies the bound search the learned index does natively.
    * `None` bounds give the reference's half-open forms; inclusivity flags
    * cover its open-interval variants. Composes with the rowid-window seek
    * like the point lookup. */
  def lookupRangeKeys(spark: SparkSession, indexPath: String,
                      lo: Option[Any], hi: Option[Any],
                      loInclusive: Boolean = true, hiInclusive: Boolean = true,
                      keyRange: Option[(Long, Long)] = None): DataFrame =
    postingsToKeys(spark, indexPath,
      valueRangePred(lo, hi, loInclusive, hiInclusive), keyRange)

  /** F5 via index: NOTNULL served from the postings (ref fullscan-limits
    * path, secondary/secondary.cpp:50-76 — the index enumerates rows per
    * value, so "has any value" is the union of every non-null posting;
    * rows whose indexed column is NULL sit in the null-value group and are
    * excluded). Composes with the rowid-window seek. */
  def lookupNotNullKeys(spark: SparkSession, indexPath: String,
                        keyRange: Option[(Long, Long)] = None): DataFrame =
    postingsToKeys(spark, indexPath, col("value").isNotNull, keyRange)

  /** I6 for NOTNULL: count rows with a non-null indexed value from stored
    * per-chunk counts — index-only. */
  def calcCountNotNull(spark: SparkSession, indexPath: String): Long =
    countOf(spark, indexPath, col("value").isNotNull)

  /** Index-accelerated filter: semi-join the fact table against the
    * postings (the host-side rowid-stream intersection, SURVEY §3.2).
    * Over a fact scan (Project/Filter nodes over one parquet dir) and the
    * keys of [[lookupKeys]], [[lookupRangeKeys]] or [[lookupNotNullKeys]],
    * it plans as a [[graft.plans.PostingsLookupExec]]: the keys are
    * collected in one job — at most a quarter of
    * `spark.driver.maxResultSize` (≤ 64 MB) of them, else the fact rows
    * co-group with them by key — and the fact rows are kept in the
    * query's own job, with no exchange. Other key frames join as usual. */
  def semiJoin(fact: DataFrame, factKey: String,
               keys: DataFrame): DataFrame =
    fact.join(keys, fact.col(s"`${factKey.replace("`", "``")}`") ===
      keys.col("key"), "left_semi")

  /** I6 CalcCount from stored per-chunk counts — index-only, no fact scan. */
  def calcCount(spark: SparkSession, indexPath: String,
                values: Seq[Any]): Long =
    countOf(spark, indexPath, col("value").isin(values: _*))

  /** I6 over a VALUE range (ref CalcCount walks the same block list the
    * range FixupFilter selects, secondary.cpp:774-812) — sums stored
    * per-chunk counts under the interval predicate; the fact table is
    * never scanned. */
  def calcCountRange(spark: SparkSession, indexPath: String,
                     lo: Option[Any], hi: Option[Any],
                     loInclusive: Boolean = true,
                     hiInclusive: Boolean = true): Long =
    countOf(spark, indexPath, valueRangePred(lo, hi, loInclusive, hiInclusive))

  /** The stored `cnt` summed over the postings rows passing `pred`: on the
    * driver over the postings' held rows ([[PostingsLookupExec.heldRows]]),
    * with no job once they are held; postings past the size gate or the
    * result budget are aggregated by a job. */
  private def countOf(spark: SparkSession, indexPath: String,
                      pred: Column): Long = {
    val postings = cachedRead(spark, indexPath).filter(pred)
    PostingsLookupExec.heldRows(postings).fold(
      postings.agg(coalesce(sum(col("cnt")), lit(0L))).head.getLong(0)) {
      case (cols, rows) =>
        val at = cols.indexOf("cnt")
        rows.foldLeft(0L)((n, r) => if (r.isNullAt(at)) n else n + r.getLong(at))
    }
  }
}
