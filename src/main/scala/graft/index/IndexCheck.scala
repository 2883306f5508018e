package graft.index

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Secondary-index integrity check — the `CheckSecondaryIndex` analog
  * (secondary/secondary.h:97; blockreader.cpp:857+ walks every block
  * validating counts, ordering and offsets). Validates the chunked-postings
  * layout invariants [[SecondaryIndex.build]] guarantees, so a corrupted or
  * hand-edited index is caught BEFORE a lookup silently returns wrong rows:
  *
  *  1. per chunk: `1 <= cnt <= RowidsPerChunk`, `cnt == size(rowids)`;
  *  2. per chunk: rowids strictly ascending (sorted, no duplicates);
  *  3. per chunk: stored `chunk_min`/`chunk_max` equal the real array
  *     bounds (the rowid-window seek consults them — wrong stats mean
  *     wrongly SKIPPED postings);
  *  4. per chunk: every rowid inside the chunk's key window
  *     `[chunk*1024, chunk*1024+1023]` (floor-division chunking);
  *  5. table: (value, chunk) unique — a duplicated posting row would
  *     double-count in CalcCount;
  *  6. table: no key in two places — `sum(cnt)` must equal the distinct
  *     key count (the unique-rowid contract of the build);
  *  7. layout: per-FILE value ranges are non-overlapping (the
  *     range-clustered write that makes interval predicates prune files;
  *     an interleaved file silently disables pruning, not correctness —
  *     flagged so the table can be rewritten);
  *  8. optionally vs the FACT table: per-value `sum(cnt)` equals the fact
  *     table's group counts (stale index after a fact rewrite).
  *
  * All passes are distributed aggregations; the driver sees only issue
  * samples and a handful of per-file stats rows.
  */
object IndexCheck {

  final case class Report(path: String, chunks: Long, keys: Long,
                          issues: Seq[String]) {
    def ok: Boolean = issues.isEmpty
  }

  /** Cap on per-invariant violation samples surfaced in the report. */
  private val SampleN = 5

  /** `segmented = true` validates a pre-compaction segment dir
    * ([[SecondaryIndex.appendSegment]]): the per-chunk invariants, global
    * key uniqueness and fact reconciliation still hold there, but (value,
    * chunk) uniqueness and cross-file value clustering only apply to the
    * canonical post-[[SecondaryIndex.compact]] layout and are skipped.
    *
    * `mva = true` validates a multi-valued index
    * ([[SecondaryIndex.buildMva]]): a key legitimately appears under every
    * distinct element of its row's set, so invariant 6 relaxes from
    * sum(cnt) == distinct keys to sum(cnt) == distinct (value, key) PAIRS
    * (per-value containment — a key still may not repeat within one
    * value's postings), and fact reconciliation explodes the fact table's
    * array column before grouping. */
  def check(spark: SparkSession, indexPath: String,
            fact: Option[(DataFrame, String, String)] = None,
            segmented: Boolean = false, mva: Boolean = false): Report = {
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val idx =
      try {
        // resolve: manifest-managed indexes keep live data in a generation
        // dir; plain/rename-scheme dirs resolve to themselves
        val d = spark.read.parquet(
          Commit.resolve(spark, indexPath))
        val want = Seq("value", "chunk", "cnt", "rowids", "chunk_min", "chunk_max")
        val missing = want.filterNot(d.columns.contains)
        if (missing.nonEmpty) {
          return Report(indexPath, -1, -1,
            Seq(s"missing index columns: ${missing.mkString(", ")}"))
        }
        d
      } catch {
        case e: Exception =>
          return Report(indexPath, -1, -1,
            Seq(s"unreadable (${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)})"))
      }

    val w = SecondaryIndex.RowidsPerChunk
    // one distributed pass computes every per-chunk violation flag
    val flagged = idx.select(col("value"), col("chunk"), col("cnt"),
        col("rowids"), col("chunk_min"), col("chunk_max"),
        (col("cnt") < 1 || col("cnt") > w).as("bad_cnt_bound"),
        (col("cnt") =!= size(col("rowids"))).as("bad_cnt_len"),
        // strictly ascending == sorted AND distinct
        (sort_array(col("rowids")) =!= col("rowids") ||
          size(array_distinct(col("rowids"))) =!= size(col("rowids")))
          .as("bad_order"),
        (col("chunk_min") =!= array_min(col("rowids")) ||
          col("chunk_max") =!= array_max(col("rowids"))).as("bad_stats"),
        (array_min(col("rowids")) < col("chunk") * w ||
          array_max(col("rowids")) >= (col("chunk") + 1) * w).as("bad_window"))
      .cache()
    try {
      val chunks = flagged.count()

      Seq("bad_cnt_bound" -> s"cnt outside [1, $w]",
          "bad_cnt_len" -> "cnt != len(rowids)",
          "bad_order" -> "rowids not strictly ascending",
          "bad_stats" -> "chunk_min/chunk_max disagree with rowids",
          "bad_window" -> "rowid outside its chunk's key window")
        .foreach { case (flag, msg) =>
          val bad = flagged.filter(col(flag))
            .select(col("value").cast("string"), col("chunk"))
            .take(SampleN)
          if (bad.nonEmpty) {
            val n = flagged.filter(col(flag)).count()
            // null-safe rendering: the checker must REPORT a null chunk
            // (one corruption class it exists for), not NPE on it
            // (r19 review)
            val sample = bad
              .map(r => "(" + r.getString(0) + ", " +
                (if (r.isNullAt(1)) "null" else r.getLong(1).toString) + ")")
              .mkString(" ")
            issues += s"$msg: $n chunk(s), e.g. $sample"
          }
        }

      // 5: (value, chunk) uniqueness — canonical layout only (segments
      // legitimately split a group across files)
      if (!segmented) {
        val dups = flagged.groupBy(col("value"), col("chunk"))
          .count().filter(col("count") > 1)
        val dupN = dups.count()
        if (dupN > 0) issues += s"duplicate (value, chunk) posting rows: $dupN"
      }

      // 6: global key uniqueness (sum of counts == distinct keys); for an
      // MVA index the unit of uniqueness is the (value, key) pair instead
      val total = flagged.agg(coalesce(sum(col("cnt")), lit(0L))).head.getLong(0)
      val keys =
        if (mva)
          // struct-wrapped so the NULL-value posting group still counts:
          // count_distinct(value, k) excludes NULL-value rows per SQL
          // semantics while sum(cnt) includes them, falsely flagging a
          // healthy index whose arrays contain null elements (review
          // r18-8; a struct with a null field is itself non-null)
          flagged.select(col("value"), explode(col("rowids")).as("k"))
            .agg(count_distinct(struct(col("value"), col("k"))))
            .head.getLong(0)
        else
          flagged.select(explode(col("rowids")).as("k"))
            .agg(count_distinct(col("k"))).head.getLong(0)
      if (total != keys)
        issues += (if (mva)
          s"sum(cnt)=$total != distinct (value, key) pairs=$keys " +
            "(key repeated within one value's postings)"
        else
          s"sum(cnt)=$total != distinct keys=$keys (key in multiple postings)")

      // 7: cross-file value clustering (non-null values only; a violation
      // breaks pruning economy, not lookup correctness; segments are
      // clustered within themselves, not across each other)
      val perFile = if (segmented) Array.empty[org.apache.spark.sql.Row]
      else idx.filter(col("value").isNotNull)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        .collect()
      if (perFile.length > 1) {
        val ranges = perFile.map(r => (r.get(1), r.get(2)))
        implicit val ord: Ordering[Any] = new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
        }
        val sorted = ranges.sortBy(_._1)
        sorted.sliding(2).foreach {
          case Array((_, hi1), (lo2, _)) =>
            if (ord.gt(hi1, lo2))
              issues += s"file value ranges overlap: [..., $hi1] vs [$lo2, ...]"
          case _ =>
        }
      }

      // 8: reconcile against the fact table (MVA: post each distinct set
      // element, exactly like the build — empty/NULL sets post nothing)
      fact.foreach { case (df, valueCol, keyCol) =>
        val factVals =
          if (mva) df.select(
            explode(array_distinct(col(valueCol))).as("fv"))
          else df.select(col(valueCol).as("fv"))
        val factCounts = factVals.groupBy(col("fv"))
          .agg(count(lit(1)).as("fact_cnt"))
        val idxCounts = flagged.groupBy(col("value").as("iv"))
          .agg(sum(col("cnt")).as("idx_cnt"))
        // null-safe join key: the NULL value group is a legitimate posting
        // row (rows whose indexed column is NULL) and must reconcile too —
        // a plain equi-join would split it into two spurious diff rows.
        val diff = factCounts.join(idxCounts, col("fv") <=> col("iv"),
            "full_outer")
          .filter(coalesce(col("fact_cnt"), lit(0L)) =!=
            coalesce(col("idx_cnt"), lit(0L)))
        val bad = diff.select(coalesce(col("fv"), col("iv")).cast("string"),
          col("fact_cnt"), col("idx_cnt")).take(SampleN + 1)
        if (bad.nonEmpty) {
          val n = diff.count()
          val sample = bad.take(SampleN).map(r =>
            s"${r.getString(0)}: fact=${r.get(1)} idx=${r.get(2)}").mkString("; ")
          issues += s"index counts disagree with fact table for $n value(s): $sample"
        }
      }

      Report(indexPath, chunks, keys, issues.toSeq)
    } finally flagged.unpersist()
  }
}
