package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Count, Max, Min, Percentile, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{ArrayType, LongType}

import Routing.qualify

/** Automatic secondary-index access-path routing. The reference daemon
  * picks the access path per filter automatically: EstimateMinMax
  * (columnar/columnar.cpp:649-675) and the index's iterator counts /
  * CalcCount (secondary/secondary.cpp:745-812) feed a cost choice between
  * the secondary index and the columnar analyzer, and COUNT(*) WHERE
  * short-circuits through CalcCount without materializing a row
  * (secondary.cpp:774-812). This rule gives a plain `df.filter(...)`,
  * `.count()` or `.agg(...)` the same automation the ANN side has
  * ([[AnnRoutingRule]]).
  *
  * [[IndexRouting]] is the registry (the analog of "this column has a
  * secondary index" in the reference's table metadata). [[IndexRoutingRule]]
  * (injected by [[GraftExtensions]] into the operator-optimization batch)
  * routes over a registered base relation:
  *
  *  1. filter — `Filter(pred, relation)` whose servable conjuncts (=, IN,
  *     comparisons against literals, IS NOT NULL on the indexed column;
  *     membership, overlap and element-range ANY on an MVA index)
  *     estimate below `spark.graft.index.routeThreshold` (default 0.1) →
  *     a LEFT SEMI join against the postings key stream, the rest kept as
  *     a residual Filter. Two or more indexes intersect their key streams
  *     when none is selective alone; a cross-index OR unions them. A broad
  *     filter, or a base table already clustered by the column, stays on
  *     the pushdown scan — the better plan;
  *  2. index-only aggregate — facet / DISTINCT, count(DISTINCT),
  *     min / max / integral sum / count / percentile and count(*)
  *     (CalcCount) of one indexed column over the bare or fully-servable-
  *     filtered relation → the same aggregate over the postings' (value,
  *     cnt) rows, never the fact table, so no gate; count(*) over a
  *     cross-index OR counts the deduped key union, gated like route 1;
  *  3. sorted retrieval — `ORDER BY col [, key] LIMIT k` → a value-ordered
  *     postings prefix and one semi-join probe of ~k keys.
  *
  * Every route picks its registrations in one place: one whose index
  * `value` type differs from the fact column's (its element type for an
  * MVA index) never serves, and the query keeps the fact scan.
  *
  * Estimation mirrors the reference's sources, shifted to registration
  * time so PLAN time stays metadata-only (no job inside the optimizer):
  * point predicates use |values| / ndv over the stored non-null count
  * (the CalcCount seam), ranges use the value-span fraction against the
  * index's min/max (the EstimateMinMax seam). Both are uniform-assumption
  * estimates — cheap, monotone in predicate width, and only used to gate,
  * never to answer.
  *
  * Correctness contract: the registered index must COVER the relation
  * (same rows — [[graft.index.IndexCheck]]'s fact reconciliation is the
  * audit), exactly as the reference assumes its per-segment indexes are in
  * sync. Index maintenance drops the registration
  * ([[IndexRouting.onIndexMutated]], called by every
  * [[graft.index.SecondaryIndex]] write; the reference disables indexes on
  * column update, secondary.cpp:414-434) and
  * [[IndexRouting.reregisterDropped]] replays it against the live files;
  * [[IndexRouting.unregister]] withdraws it for good (e.g. after the fact
  * table is rewritten). Multi-valued
  * ([[graft.index.SecondaryIndex.buildMva]]) indexes register with
  * `mva = true` and serve the filter route only: their postings repeat
  * keys across element values, which the semi-join tolerates but counts
  * and aggregates must not see.
  *
  * 100 TB note: a single-index route is planned as one
  * [[PostingsLookupExec]]: one job over the postings collects the
  * matching keys to the driver, and the query's own job keeps the fact
  * rows whose key is among them — no exchange, no broadcast, no shuffle
  * of fact rows. The keys collected are bounded by a budget (a quarter of
  * `spark.driver.maxResultSize`, at most 64 MB of 8-byte keys, split
  * evenly over the keys job's tasks; the gate keeps a routed filter
  * selective); past it the leaf co-groups the fact rows with the exploded
  * keys by key instead. Postings past a few MB push the value conditions
  * into their scan, which prunes the value-clustered index files, row
  * groups and pages; smaller ones are read whole through their memoized
  * scan. The fact scan reads every file: skipping fact files by key range
  * is left to a per-dir footer catalog. Intersections, OR unions and
  * sorted retrieval keep their join plans. The aggregate route scans only
  * the matching index files and ships one row per group.
  */
object IndexRouting {

  /** `mva = true` marks a [[graft.index.SecondaryIndex.buildMva]] index:
    * postings repeat keys across element values, so it serves
    * `array_contains` / `arrays_overlap` filters via the duplicate-
    * insensitive semi-join but is excluded from the index-only aggregates
    * and sorted retrieval (sum(cnt) counts element occurrences, not rows).
    * `baseClustered` records whether the BASE table's row-group stats
    * already prune on `valueCol` (the EstimateMinMax input): then the
    * pushdown scan is the better plan and the filter route stands down —
    * the index-only aggregates still apply (they skip the fact scan
    * entirely, which clustering cannot match).
    * `canonical` records whether the index had the one-row-per-(value,
    * chunk) layout at registration: false after [[graft.index
    * .SecondaryIndex.appendSegment]] until a compact (a (value, chunk)
    * group may then be SPLIT across segment files). The sorted-retrieval
    * route re-merges split groups with a pre-aggregation in that state
    * (the reference's sorted runs survive segment merges,
    * secondary/builder.cpp:314-461); every other route is duplicate-safe
    * as-is (semi-joins union at explode, counts sum). */
  final case class Registered(basePath: String, indexPath: String,
                              valueCol: String, keyCol: String,
                              rows: Long, ndv: Long, totalCnt: Long,
                              vMin: Option[Double], vMax: Option[Double],
                              indexPlan: LogicalPlan, mva: Boolean,
                              baseClustered: Boolean, idxRows: Long,
                              hist: Array[Any], canonical: Boolean)

  private val reg =
    scala.collection.concurrent.TrieMap.empty[String, List[Registered]]

  private def numOpt(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  /** Histogram resolution: 32 equi-depth buckets (33 boundaries). */
  val HistBuckets = 32

  /** Equi-depth histogram boundaries of the index's value stream, captured
    * at registration for EVERY range shape — numeric columns too, where it
    * replaces the uniform-span assumption with the actual distribution
    * (the reference's PGM orders ANY type and estimates by rank, so its
    * range estimates are distribution-aware and type-generic).
    * Index-ROW sampling approximates the cnt-weighted distribution
    * (a value's index-row count tracks its chunk count ≈ its row count);
    * one bounded job, deterministic seed so plans never flip between
    * re-registers. Empty for non-Comparable values or samples too small to
    * bucket (→ those ranges stay un-estimable and never route). */
  private def histogram(idx: org.apache.spark.sql.DataFrame,
                        idxRows: Long): Array[Any] = {
    import org.apache.spark.sql.functions._
    val frac = math.min(1.0, 8192.0 / math.max(1L, idxRows))
    val sample = idx.select(col("value")).filter(col("value").isNotNull)
      .sample(withReplacement = false, frac, seed = 42L)
      .limit(16384).collect().map(_.get(0))
    if (sample.length < 2 * HistBuckets ||
        !sample.headOption.exists(_.isInstanceOf[Comparable[_]])) Array.empty
    else try {
      val sorted = sample.sortWith((a, b) =>
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
      (0 to HistBuckets).map(i =>
        sorted((((sorted.length - 1).toLong * i) / HistBuckets).toInt)).toArray
    } catch { case _: ClassCastException => Array.empty[Any] }
  }

  /** Register a [[graft.index.SecondaryIndex]] table for `basePath`: plain
    * filters/counts on `valueCol` become routing candidates. Registration
    * runs ONE small aggregation over the index table (rows ≈ ndv × chunks,
    * tiny next to the fact table) for the gating stats — ndv, stored
    * non-null count, numeric value bounds — and caches the analyzed index
    * relation; plan time then touches no data at all. Re-registering the
    * same (base, index, column) triple is a no-op (bench loops re-enter
    * query builders); use `force = true` after a rebuild. Registration is
    * TABLE-LEVEL session state, as in the reference daemon: every eligible
    * filter over the table in this session routes. */
  def register(spark: SparkSession, basePath: String, indexPath: String,
               valueCol: String, keyCol: String,
               force: Boolean = false, mva: Boolean = false): Unit = {
    val q = qualify(spark, basePath)
    def same(r: Registered): Boolean =
      r.indexPath == indexPath && r.valueCol == valueCol &&
        r.keyCol == keyCol && r.mva == mva
    // idempotency covers the FULL registration key: a re-register with a
    // different keyCol or mva classification must replace, never be
    // silently dropped (it describes a different index contract)
    if (!force && reg.getOrElse(q, Nil).exists(same)) return
    // stats jobs and footer sweeps run OUTSIDE the lock (they can take
    // seconds on big tables; a concurrent maintenance invalidation must
    // not block behind them) — a racing duplicate register just recomputes
    // and last-write-wins on an identical entry. The epoch snapshot below
    // detects a racing MUTATION instead: if onIndexMutated lands between
    // this snapshot and the put, the put is abandoned (ADVICE r9 — the
    // stale entry would otherwise route through the pre-mutation listing).
    val qIdx = qualify(spark, indexPath)
    val epoch0 = reg.synchronized(epochs.getOrElse(qIdx, 0L))
    val hconf = spark.sparkContext.hadoopConfiguration
    val rows = graft.stats.Stats.rowCount(basePath, hconf)
    // the live data of a manifest-managed (or mid-compact) index sits in a
    // generation dir — read through the same resolution every lookup uses
    val idx = spark.read.parquet(
      graft.index.Commit.resolve(spark, indexPath))
    import org.apache.spark.sql.functions._
    // the (value, chunk)-uniqueness probe rides the same aggregation: it
    // classifies the layout as canonical vs segmented for the sorted-
    // retrieval route (appendSegment invalidates this entry, so the flag
    // is re-derived from the actual files on every re-register)
    val aggCols = Seq(
      coalesce(sum(when(col("value").isNotNull, col("cnt"))), lit(0L)),
      count_distinct(col("value")),
      min(col("value")), max(col("value")),
      count(lit(1))) ++
      (if (idx.columns.contains("chunk"))
        Seq(count_distinct(struct(col("value"), col("chunk")))) else Nil)
    val s = idx.agg(aggCols.head, aggCols.tail: _*).head()
    val clustered = !mva &&
      graft.stats.Stats.clusteredBy(basePath, valueCol, hconf)
    // histogram for EVERY comparable value type: numeric ranges prefer the
    // rank-based estimate too (the reference's PGM is a rank structure —
    // its estimates track the actual distribution, not a uniform-span
    // assumption that a zipfian column breaks), with the span as exact
    // disjointness evidence and small-index fallback
    val hist = histogram(idx, s.getLong(4))
    val entry = Registered(q, indexPath, valueCol, keyCol, rows,
      math.max(1L, s.getLong(1)), s.getLong(0),
      numOpt(s.get(2)), numOpt(s.get(3)), idx.queryExecution.analyzed, mva,
      clustered, s.getLong(4), hist,
      canonical = s.length > 5 && s.getLong(5) == s.getLong(4))
    reg.synchronized {
      if (epochs.getOrElse(qIdx, 0L) != epoch0) return // mutated mid-snapshot
      reg.put(q, entry :: reg.getOrElse(q, Nil).filterNot(r =>
        r.indexPath == indexPath && r.valueCol == valueCol))
    }
  }

  def unregister(spark: SparkSession, basePath: String): Unit = {
    val q = qualify(spark, basePath)
    reg.remove(q)
    // also purge the maintenance replay memos for this base — otherwise a
    // later reregisterDropped() would RESURRECT a registration the user
    // explicitly invalidated (e.g. after rewriting the fact table) and
    // route queries to an index that no longer covers it (review r18-3)
    droppedKeys.keys.filter(_._1 == q).foreach(droppedKeys.remove)
  }

  def clear(): Unit = { reg.clear(); droppedKeys.clear() }

  // Registration keys whose entries a maintenance invalidation dropped —
  // everything needed to replay the registration against the mutated
  // files. Keyed by QUALIFIED index path so a second mutation just
  // overwrites.
  private val droppedKeys = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), (String, String, String, String, Boolean)]

  /** Replay the registrations that maintenance invalidated — the
    * reference daemon's behavior (RT inserts keep the column's index
    * serving; each segment carries its postings): after
    * `appendSegment`/`compact`, ONE call re-derives stats (ndv, bounds,
    * histogram, canonical flag) from the live files and resumes routing.
    * A streaming `foreachBatch` ingest calls this per batch to keep the
    * automatic paths alive continuously. Safe to call at any time —
    * replayed keys race mutations through the same epoch guard as any
    * register, and a key whose replay is beaten by a newer mutation is
    * simply re-dropped (and re-remembered) by that mutation. */
  def reregisterDropped(spark: SparkSession): Unit = {
    var firstFailure: Throwable = null
    droppedKeys.keys.toSeq.foreach { k =>
      droppedKeys.remove(k).foreach { case memo @ (b, i, v, kc, mva) =>
        // a TRANSIENT register failure (object-store throttle, executor
        // loss during the stats jobs) must not lose the replay memo or
        // abort the remaining keys — restore the memo (unless a newer
        // mutation already re-remembered the key) and keep going, so the
        // next maintenance tick retries (review r18-3)
        try register(spark, b, i, v, kc, mva = mva)
        catch { case e: Exception =>
          droppedKeys.putIfAbsent(k, memo)
          if (firstFailure == null) firstFailure = e
        }
      }
    }
    if (firstFailure != null) throw firstFailure
  }

  /** Invalidation hook for index MAINTENANCE ([[graft.index.SecondaryIndex]]
    * calls this from build / appendSegment / compact / compactManifest):
    * the cached analyzed index relation froze its file listing at
    * registration, so a mutated index would silently serve stale postings
    * (or dangle on deleted files after a compaction). Entries for the
    * mutated index are DROPPED — queries fall back to the always-correct
    * scan until the caller re-registers (the reference disables indexes on
    * column update the same way, secondary.cpp:414-434). Paths are matched
    * QUALIFIED, so a register/maintenance spelling difference
    * ("file:/p" vs "/p", trailing slash) cannot skip the invalidation.
    * The per-index epoch bump also aborts any [[register]] whose stats
    * snapshot was in flight when the mutation landed (ADVICE r9: without
    * it the late put would silently route through the pre-mutation file
    * listing). */
  def onIndexMutated(spark: SparkSession, indexPath: String): Unit = {
    val q = qualify(spark, indexPath)
    // drop any signature-cached analyzed plans under the index (r22,
    // VERDICT r21 #5 — explicit invalidate on every write path)
    graft.engine.Graft.invalidate(indexPath)
    reg.synchronized {
      epochs.put(q, epochs.getOrElse(q, 0L) + 1L)
      reg.foreach { case (base, entries) =>
        val (gone, keep) =
          entries.partition(r => qualify(spark, r.indexPath) == q)
        gone.foreach(r => droppedKeys.put((base, q, r.valueCol),
          (r.basePath, r.indexPath, r.valueCol, r.keyCol, r.mva)))
        if (gone.nonEmpty) {
          if (keep.isEmpty) reg.remove(base) else reg.put(base, keep)
        }
      }
    }
  }

  // Mutation epoch per QUALIFIED index path: register() snapshots it before
  // its stats jobs and re-checks under the lock, so a maintenance
  // invalidation racing the (seconds-long) snapshot can never be undone by
  // the late put.
  private val epochs =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private[plans] def lookup(qualifiedPath: String): List[Registered] =
    reg.getOrElse(qualifiedPath, Nil)
}

class IndexRoutingRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import IndexRouting.Registered

  private def threshold: Double =
    session.conf.getOption("spark.graft.index.routeThreshold")
      .flatMap(_.toDoubleOption).getOrElse(0.1)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // Index-only aggregates: facet / DISTINCT, count(DISTINCT), column
    // aggregates and CalcCount, answered from the postings.
    case agg: Aggregate => tryIndexAgg(agg).getOrElse(agg)

    // Access-path choice: servable conjuncts → postings semi-join.
    // Nondeterministic conditions are never split (evaluating the servable
    // conjuncts ahead of a rand()-style residual would change semantics,
    // the same reason PushDownPredicates refuses to reorder them).
    case f @ Filter(cond, lr: LogicalRelation) if cond.deterministic =>
      relationOf(lr).flatMap { case (_, regs) =>
        tryFilter(cond, lr, regs)
      }.getOrElse(f)

    // Index-served ORDER BY valueCol LIMIT k (sorted retrieval): the
    // postings are value-sorted by construction, so a value-ordered
    // key-stream prefix bounds the fact probe by ~k rows.
    case gl @ Limit(IntegerLiteral(k), body) =>
      tryTopK(gl, k, body).getOrElse(gl)
  }

  /** Index-only aggregates — CalcCount (secondary.cpp:774-812), the
    * per-column ndv kept in the index meta (secondary.cpp:380-388) and the
    * filtered EstimateMinMax made exact (columnar.cpp:649-675), answered
    * from one index's (value, cnt) postings. An Aggregate over the bare or
    * fully-servable-filtered relation whose outputs all read ONE indexed
    * column becomes the same Aggregate over the (filtered) index rows —
    * ndv × chunks rows instead of the fact table, so no gate:
    *  - `GROUP BY col [, count(*)]` (facet / DISTINCT — the reference's
    *    dictionary-backed facet, builderint.cpp:218-219; the postings keep
    *    a NULL-value group, so SQL's NULL group reconciles);
    *  - `count(DISTINCT col)`, alone;
    *  - min / max / integral sum / count(col) / exact unit-frequency
    *    percentile of col, with or without count(*), each possibly wrapped
    *    in scalar expressions (CollapseProject folds a post-aggregate
    *    `round(percentile)` or `max - min` into the aggregate list, review
    *    r12-3) and rewritten in place;
    *  - `count(*)` alone under a filter — or, when no single index serves
    *    the filter, over a cross-index OR ([[tryOrCount]]).
    * The target column is the grouping column, else the one column every
    * aggregate reads, else the one column the count's filter reads; the
    * non-MVA registration on it with the fewest index rows serves (MVA
    * postings count element occurrences, and aggregates of an array
    * column act on whole arrays). A residual conjunct needs fact rows, so
    * it blocks the route. A float SUM never routes: regrouping by value
    * would perturb its addition order. NULL semantics match SQL: min /
    * max / sum skip NULL values (value·cnt is NULL), count(col) drops the
    * NULL posting group explicitly, count(DISTINCT) skips it natively, and
    * an empty match gives NULL (min/max/sum) or 0 (counts) on both paths. */
  private def tryIndexAgg(agg: Aggregate): Option[LogicalPlan] = {
    val aggs = agg.aggregateExpressions
    val (cond, rel) = stripPrune(agg.child) match {
      case Filter(c, inner) => (Some(c), relationOf(stripPrune(inner)))
      case other => (None, relationOf(other))
    }
    val aes = aggs.flatMap(_.collect { case ae: AggregateExpression => ae })
    // the columns the aggregates read (count(*) reads none), and the
    // outputs that are one unwrapped aggregate each
    val read = aes.flatMap(_.aggregateFunction.children.headOption)
      .collect { case a: AttributeReference => a }
    val bare = aggs.collect { case Alias(ae: AggregateExpression, _) => ae }
    def isGroupCol(e: NamedExpression, g: Attribute): Boolean = e match {
      case a: AttributeReference => a.semanticEquals(g)
      case Alias(a: AttributeReference, _) => a.semanticEquals(g)
      case _ => false
    }
    val answered = aes.forall(answerable)
    val countOnly = answered && agg.groupingExpressions.isEmpty &&
      read.isEmpty && aggs.size == 1 && bare.size == 1
    val target: Option[Attribute] = (agg.groupingExpressions, read) match {
      case _ if !answered => None
      // the group column once, plus at most one unwrapped count(*)
      case (Seq(g: AttributeReference), Seq()) =>
        val gs = aggs.count(isGroupCol(_, g))
        if (gs == 1 && aggs.size <= 2 && bare.size == aggs.size - 1) Some(g)
        else None
      case (Seq(), _) if aes.exists(_.isDistinct) =>
        if (aggs.size == 1 && bare.size == 1) read.headOption else None
      case (Seq(), Seq(a, _*)) if aggs.forall(_.isInstanceOf[Alias]) =>
        if (read.forall(_.semanticEquals(a))) Some(a) else None
      case _ if countOnly => cond.map(_.references.toSeq) match {
        case Some(Seq(a)) => Some(a)
        case _ => None
      }
      case _ => None
    }
    val routed = for {
      a <- target
      (lr, regs) <- rel
      r <- regs.filter(r => !r.mva && r.valueCol == a.name &&
        lr.output.exists(_.semanticEquals(a))).sortBy(_.idxRows).headOption
      conjuncts = cond.toSeq.flatMap(splitConjunctivePredicates)
      if conjuncts.forall(servable(_, a))
      idxPlan = Routing.fresh(r.indexPlan)
      value <- idxPlan.output.find(_.name == "value")
      cnt <- idxPlan.output.find(_.name == "cnt")
    } yield {
      def rewrite(ae: AggregateExpression): Expression =
        ae.aggregateFunction match {
          // count(*) = Σ cnt over ALL postings (the NULL group too)
          case Count(Seq(_: Literal)) =>
            Coalesce(Seq(Sum(cnt).toAggregateExpression(), Literal(0L)))
          case _: Count if ae.isDistinct =>
            Count(value).toAggregateExpression(isDistinct = true)
          // count(col): Σ cnt outside the NULL posting group
          case _: Count => Coalesce(Seq(
            Sum(If(IsNotNull(value), cnt, Literal(0L))).toAggregateExpression(),
            Literal(0L)))
          case _: Min => Min(value).toAggregateExpression()
          case _: Max => Max(value).toAggregateExpression()
          // Σ value·cnt; the cast keeps the LongType output Sum gives
          // every integral input
          case _: Sum =>
            Sum(Multiply(Cast(value, LongType), cnt)).toAggregateExpression()
          // the reference's PGM rank query: cnt IS the frequency, so the
          // weighted form over index rows expands to the fact multiset
          // (copy keeps percentage + reverse)
          case p: Percentile =>
            p.copy(child = value, frequencyExpression = cnt)
              .toAggregateExpression()
        }
      // keep the original output order and exprIds; transformUp does not
      // revisit replacements, so the Sums inside count rewrites survive
      val outs = aggs.map {
        case e if isGroupCol(e, a) => Alias(value, e.name)(exprId = e.exprId)
        case al: Alias => Alias(al.child.transformUp {
          case ae: AggregateExpression => rewrite(ae)
        }, al.name)(exprId = al.exprId)
      }
      val idxChild = if (conjuncts.isEmpty) idxPlan
        else Filter(conjuncts.map(substitute(_, a, value)).reduce(And), idxPlan)
      Aggregate(agg.groupingExpressions.map(_ => value), outs, idxChild, None)
    }
    routed.orElse(for {
      o <- cond.collect { case o: Or if countOnly => o }
      (lr, regs) <- rel
      plan <- tryOrCount(aggs.head.asInstanceOf[Alias], o, lr, regs)
    } yield plan)
  }

  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | LongType => true
      case _ => false
    }

  /** Does [[tryIndexAgg]]'s per-aggregate table answer `ae` from the
    * (value, cnt) postings? DISTINCT only for count(DISTINCT col). */
  private def answerable(ae: AggregateExpression): Boolean =
    ae.filter.isEmpty && (ae.aggregateFunction match {
      case Count(Seq(l: Literal)) => l.value != null && !ae.isDistinct
      case Count(Seq(_: AttributeReference)) => true
      case Min(_: AttributeReference) | Max(_: AttributeReference) =>
        !ae.isDistinct
      case Sum(a: AttributeReference, _) =>
        !ae.isDistinct && integralType(a.dataType)
      // exact percentile with unit frequency: the index's (value, cnt)
      // pairs are the identical multiset with cnt as the frequency
      case p: Percentile =>
        p.child.isInstanceOf[AttributeReference] &&
          p.frequencyExpression == Literal(1L) &&
          p.percentageExpression.foldable && !ae.isDistinct
      case _ => false
    })

  /** Index-served sorted retrieval — `ORDER BY valueCol [, keyCol] LIMIT k`
    * over a registered base relation (the one query shape the index's own
    * ordering serves: postings are value-sorted by construction — the
    * builder's external sort, secondary/builder.cpp:43-44, 314-461 — so the
    * reference host can stream rowids in value order). The rewrite takes
    * the FIRST k index rows in (value, chunk) order — each row holds ≥ 1
    * key, so k rows always cover the k smallest (value, key) fact rows —
    * trims them to the running-count prefix (≤ one chunk of slack), explodes
    * the rowids, and replaces the fact scan with ONE semi-join probe of
    * those ~k keys; the ORIGINAL Sort/Limit above re-sorts the survivors,
    * so the routed plan never re-derives ordering semantics.
    *
    * Coverage argument for the tie boundary: within a value, chunk order IS
    * key order (chunks are cut from the sorted rowid stream, layout
    * invariant), so a (value asc, key asc) — or the fully-reversed — sort
    * is covered by the same prefix; a mixed-direction or foreign secondary
    * key is refused. NULL values are genuinely served: the postings keep a
    * NULL-value group, and the prefix mirrors the query's null ordering.
    * Broad k bypasses through the same selectivity gate as filters (the
    * probe economy is gone when k approaches the table).
    *
    * A SEGMENTED index (post-[[graft.index.SecondaryIndex.appendSegment]])
    * may hold a (value, chunk) group SPLIT across segment files; a k-row
    * prefix over the raw rows could then drop the split sibling holding
    * needed keys at the prefix boundary (the rows strictly before the
    * boundary group cover fewer than k keys, and part of the boundary
    * chunk's keys live in the dropped sibling). The route stays available
    * mid-segment by re-merging split groups first — an Aggregate over
    * INDEX rows (chunk = key div 1024 is a pure key function, so merged
    * groups ARE the canonical layout, sum(cnt) + unioned rowids). That
    * pre-aggregation shuffles ndv + rows/1024 index rows instead of the
    * canonical map-side TakeOrdered — the documented mid-segment economy
    * trade until compact; a `canonical` index skips it entirely.
    *
    * 100 TB shape: the prefix is a distributed TakeOrdered over INDEX rows
    * (ndv + rows/1024, tiny next to the fact table), the window runs over
    * ≤ k rows, and the fact probe touches ≤ k + chunk-slack keys — against
    * the unrouted plan's full-table TakeOrderedAndProject scan. The whole
    * sub-plan is built from the registration-cached analyzed relation —
    * plan time touches no data and no file listings. */
  private def tryTopK(gl: LogicalPlan, k: Int,
                      body: LogicalPlan): Option[LogicalPlan] = {
    stripPrune(body) match {
      case Sort(order, true, sortChild, _) if order.nonEmpty =>
        val lr = stripPrune(sortChild) match {
          case l: LogicalRelation => l
          case _ => return None
        }
        val (_, regs) = relationOf(lr) match {
          case Some(x) => x
          case None => return None
        }
        val head = order.head
        val vAttr = head.child match {
          case a: AttributeReference if lr.outputSet.contains(a) => a
          case _ => return None
        }
        val r = regs.filterNot(_.mva).filter(_.valueCol == vAttr.name)
          .sortBy(_.idxRows).headOption match {
          case Some(x) => x
          case None => return None
        }
        if (r.rows <= 0 || k <= 0 || k.toDouble / r.rows > threshold)
          return None
        val tailOk = order.tail match {
          case Seq() => true
          case Seq(so) => so.child match {
            case a: AttributeReference => a.name == r.keyCol &&
              lr.outputSet.contains(a) && so.direction == head.direction
            case _ => false
          }
          case _ => false
        }
        if (!tailOk) return None
        val idxPlan0 = Routing.fresh(r.indexPlan)
        val byName = idxPlan0.output.map(a => a.name -> a).toMap
        val (vCol, cCol, cntCol0, rowids0) =
          (byName.get("value"), byName.get("chunk"),
            byName.get("cnt"), byName.get("rowids")) match {
            case (Some(v), Some(c), Some(n), Some(rw)) => (v, c, n, rw)
            case _ => return None
          }
        // segmented layout: merge split (value, chunk) groups back to the
        // canonical invariant before taking the prefix (see Scaladoc)
        val (idxPlan, cntCol, rowids) =
          if (r.canonical) (idxPlan0, cntCol0, rowids0)
          else {
            val cntA = Alias(Sum(cntCol0).toAggregateExpression(), "cnt")()
            val rwA = Alias(
              Flatten(CollectList(rowids0).toAggregateExpression()),
              "rowids")()
            val agg: LogicalPlan = Aggregate(Seq(vCol, cCol),
              Seq(vCol, cCol, cntA, rwA), idxPlan0, None)
            (agg, cntA.toAttribute, rwA.toAttribute)
          }
        val elemType = rowids.dataType match {
          case ArrayType(et, _) => et
          case _ => return None
        }
        val ord = Seq(
          SortOrder(vCol, head.direction, head.nullOrdering, Seq.empty),
          SortOrder(cCol, head.direction))
        val prefix = Limit(Literal(k), Sort(ord, global = true, idxPlan))
        // keep rows while the running count BEFORE each row is < k: the
        // stop chunk is included whole (≤ 1024-key slack), later ones drop
        val cumAlias = Alias(WindowExpression(
          Sum(cntCol).toAggregateExpression(),
          WindowSpecDefinition(Nil, ord,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, Literal(-1)))),
          "__graft_cum")()
        val keep = Filter(
          LessThan(Coalesce(Seq(cumAlias.toAttribute, Literal(0L))),
            Literal(k.toLong)),
          Window(Seq(cumAlias), Nil, ord, prefix))
        val keyAttr = AttributeReference("__graft_topk_key", elemType,
          nullable = false)()
        val keysPlan = Project(Seq(keyAttr),
          Generate(Explode(rowids), unrequiredChildIndex = Nil,
            outer = false, qualifier = None, generatorOutput = Seq(keyAttr),
            child = keep))
        val factKey = lr.output.find(_.name == r.keyCol) match {
          case Some(a) => a
          case None => return None
        }
        val joinKey: Expression =
          if (factKey.dataType == keyAttr.dataType) factKey
          else Cast(factKey, keyAttr.dataType)
        val join = Join(lr, keysPlan, LeftSemi,
          Some(EqualTo(joinKey, keyAttr)), JoinHint.NONE)
        Some(gl.transformUp { case l: LogicalRelation if l eq lr => join })
      case _ => None
    }
  }

  /** Peel column-pruning Projects (attribute-only) off a subtree. */
  private def stripPrune(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripPrune(c)
    case o => o
  }

  /** The registered relation `p` scans and the registrations every route
    * picks from — the one place each route chooses them. A registration
    * whose index `value` type differs from the fact column's (its element
    * type for an MVA index) is left out: the routes substitute `value`
    * into fact-side comparisons and hand it up under kept exprIds, so a
    * drifted type (fact column widened after the index build, a
    * mis-registration) would make an invalid plan and abort the query —
    * it stands down to the fact scan instead (r18 review). */
  private def relationOf(p: LogicalPlan)
      : Option[(LogicalRelation, List[Registered])] = p match {
    case lr: LogicalRelation =>
      val regs = Routing.basePathOf(lr).toList.flatMap(IndexRouting.lookup)
        .filter { r =>
          val factType = lr.output.find(_.name == r.valueCol).map(_.dataType)
            .map { case ArrayType(et, _) if r.mva => et; case dt => dt }
          r.indexPlan.output.find(_.name == "value")
            .exists(v => factType.contains(v.dataType))
        }
      if (regs.isEmpty) None else Some((lr, regs))
    case _ => None
  }

  /** Literal elements of a non-null array literal, or None. */
  private def arrayLits(l: Literal): Option[Seq[Literal]] = l.dataType match {
    case org.apache.spark.sql.types.ArrayType(et, _) if l.value != null =>
      val arr = l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(et)
      if (arr.contains(null)) None else Some(arr.toSeq.map(Literal(_, et)))
    case _ => None
  }

  /** Is `body` a PURE predicate of the single lambda variable `x` — no
    * outer column references, no other lambda variables, no subqueries,
    * deterministic? Then `exists(col, x -> body)` is exactly served by the
    * element postings: SOME element satisfies body ⟺ SOME postings row
    * with `body(value)` holds the key. */
  private def pureElemPred(body: Expression, x: NamedLambdaVariable): Boolean =
    body.deterministic && !body.exists {
      case _: AttributeReference => true
      case nv: NamedLambdaVariable => nv.exprId != x.exprId
      case _: PlanExpression[_] => true
      case _ => false
    }

  /** Servable shapes over an MVA index (ref: `ANY(col)` filters on
    * UINT32SET columns are index-accelerated — each set element is posted):
    * membership and overlap against literals, element-range ANY
    * (`exists(col, x -> lo <= x <= hi)` — the reference's MvaAny_T range
    * overlap, columnar/accessormva.cpp:71-139; the index posts each
    * element, so a value-range walk serves it), and disjunctions of those.
    * ALL/exclude quantifiers and IS NOT NULL are NOT servable (empty
    * arrays have no postings but are not null). */
  private def servableMva(e: Expression, v: Attribute): Boolean = e match {
    case ArrayContains(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && l.value != null
    case ArraysOverlap(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && arrayLits(l).exists(_.nonEmpty)
    // third arg = followThreeValuedLogic: irrelevant under a Filter —
    // a null exists() rejects the row exactly like false, and the lowered
    // postings predicate rejects those keys the same way
    case ArrayExists(a: AttributeReference,
        LambdaFunction(body, Seq(x: NamedLambdaVariable), _), _) =>
      a.semanticEquals(v) && pureElemPred(body, x)
    case Or(l, r) => servableMva(l, v) && servableMva(r, v)
    case _ => false
  }

  /** Is `e` answerable from the postings of index `r` over `v`?
    * (The servable filter shapes of secondary/secondary.cpp:745-812:
    * VALUES, RANGE/FLOATRANGE, NOTNULL.) */
  private def servable(e: Expression, v: Attribute): Boolean = e match {
    case IsNotNull(a: AttributeReference) => a.semanticEquals(v)
    case EqualTo(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && l.value != null
    case EqualTo(l: Literal, a: AttributeReference) =>
      a.semanticEquals(v) && l.value != null
    case In(a: AttributeReference, vs) => a.semanticEquals(v) &&
      vs.nonEmpty && vs.forall {
        case l: Literal => l.value != null
        case _ => false
      }
    case InSet(a: AttributeReference, hset) =>
      a.semanticEquals(v) && !hset.contains(null)
    case GreaterThan(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && l.value != null
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && l.value != null
    case LessThan(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && l.value != null
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      a.semanticEquals(v) && l.value != null
    case GreaterThan(l: Literal, a: AttributeReference) =>
      a.semanticEquals(v) && l.value != null
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      a.semanticEquals(v) && l.value != null
    case LessThan(l: Literal, a: AttributeReference) =>
      a.semanticEquals(v) && l.value != null
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      a.semanticEquals(v) && l.value != null
    // a disjunction of servable shapes is ONE postings filter — the
    // reference's secondary index natively unions per-value iterators into
    // a bitmap (SpawnBitmapIterator, secondary/blockreader.cpp:563-598).
    // And appears only NESTED under Or (top-level conjunctions are split
    // before this recognizer runs): a conjunction of servables is servable.
    case Or(l, r) => servable(l, v) && servable(r, v)
    case And(l, r) => servable(l, v) && servable(r, v)
    case _ => false
  }

  private def isNotNullPred(e: Expression): Boolean =
    e.isInstanceOf[IsNotNull]

  // ---- selectivity estimation (registration-time stats only) ----
  //
  // The registration-time analog of EstimateMinMax (columnar.cpp:649-675)
  // + CalcCount (secondary.cpp:774-812): point shapes over stored ndv,
  // ranges over the equi-depth histogram captured at registration (the
  // reference's PGM is a rank structure over ANY ordered type, so its
  // estimates are distribution-aware and type-generic — so are these),
  // with the numeric span supplying exact disjointness and the fallback
  // for indexes too small to bucket. None = un-estimable (conservative:
  // no evidence of selectivity → no route).

  private def nonNullFrac(r: Registered): Double =
    if (r.rows <= 0) 1.0 else math.min(1.0, r.totalCnt.toDouble / r.rows)

  private def numLit(l: Literal): Option[Double] = l.value match {
    case x: java.lang.Number => Some(x.doubleValue())
    case _ => None
  }

  /** External (Comparable) view of a literal for histogram comparisons —
    * catalyst internals (UTF8String, epoch days) convert to the same
    * external types `Row.get` produced for the boundaries. */
  private def extLit(l: Literal): Option[Comparable[Any]] =
    try org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(l.value, l.dataType) match {
        case c: Comparable[_] => Some(c.asInstanceOf[Comparable[Any]])
        case _ => None
      }
    catch { case _: Exception => None }

  private def spanFrac(r: Registered, lo: Double, hi: Double): Option[Double] =
    (r.vMin, r.vMax) match {
      case (Some(mn), Some(mx)) =>
        if (hi < mn || lo > mx) Some(0.0)
        else if (mx <= mn) Some(nonNullFrac(r))
        else Some(math.max(0.0, math.min(1.0,
          (math.min(hi, mx) - math.max(lo, mn)) / (mx - mn))) * nonNullFrac(r))
      case _ => None
    }

  /** Matching fraction of `lo <= value <= hi` (either bound optional) from
    * the equi-depth histogram: bucket-resolution rank difference, padded by
    * one bucket against sampling noise — erring AGAINST routing. */
  private def histFrac(r: Registered, lo: Option[Literal],
                       hi: Option[Literal]): Option[Double] = {
    if (r.hist.length < 2) return None
    try {
      val n = (r.hist.length - 1).toDouble
      for {
        loR <- lo match {
          case None => Some(0)
          case Some(l) => extLit(l).map(x => r.hist.count(b => x.compareTo(b) > 0))
        }
        hiR <- hi match {
          case None => Some(r.hist.length)
          case Some(l) => extLit(l).map(x => r.hist.count(b => x.compareTo(b) >= 0))
        }
      } yield math.min(1.0, math.max(0.0, (hiR - loR + 1).toDouble / n)) *
        nonNullFrac(r)
    } catch { case _: ClassCastException => None }
  }

  /** Merged-interval range estimate. Preference order:
    *  1. exact-zero from the span — vMin/vMax are EXACT aggregation
    *     results, so a range disjoint from [vMin, vMax] matches nothing
    *     regardless of distribution;
    *  2. the equi-depth histogram — rank-based, so it tracks the actual
    *     distribution the way the reference's PGM rank estimates do
    *     (a zipfian column's hot range estimates high and correctly
    *     refuses the route; the uniform span would claim it tiny);
    *  3. the numeric span — small indexes whose sample couldn't bucket. */
  private def rangeEst(r: Registered, lo: Option[Literal],
                       hi: Option[Literal]): Option[Double] = {
    val loN = lo.map(numLit)
    val hiN = hi.map(numLit)
    if (loN.exists(_.isEmpty) || hiN.exists(_.isEmpty))
      return histFrac(r, lo, hi)
    val loV = loN.flatten.getOrElse(-Double.MaxValue)
    val hiV = hiN.flatten.getOrElse(Double.MaxValue)
    // exact-zero ONLY on provable disjointness from [vMin, vMax] — a
    // zero-width IN-BOUNDS span (v BETWEEN 5 AND 5, or v >= vMax) is a
    // point predicate, not emptiness: the uniform-span formula's 0.0
    // would route a hot value's whole postings list past the gate the
    // histogram exists to enforce (review r18-3)
    val disjoint = (r.vMin, r.vMax) match {
      case (Some(mn), Some(mx)) => hiV < mn || loV > mx
      case _ => false
    }
    if (disjoint) Some(0.0)
    else {
      val span = spanFrac(r, loV, hiV).map { f =>
        if (hiV == loV)
          math.max(f, math.min(1.0, 1.0 / r.ndv) * nonNullFrac(r))
        else f
      }
      histFrac(r, lo, hi).orElse(span)
    }
  }

  /** (lo, hi) bound contributed by one comparison conjunct, if it is one. */
  private def cmpBounds(e: Expression)
      : Option[(Option[Literal], Option[Literal])] = e match {
    case GreaterThan(_: AttributeReference, l: Literal) => Some((Some(l), None))
    case GreaterThanOrEqual(_: AttributeReference, l: Literal) => Some((Some(l), None))
    case LessThan(_: AttributeReference, l: Literal) => Some((None, Some(l)))
    case LessThanOrEqual(_: AttributeReference, l: Literal) => Some((None, Some(l)))
    case GreaterThan(l: Literal, _: AttributeReference) => Some((None, Some(l)))
    case GreaterThanOrEqual(l: Literal, _: AttributeReference) => Some((None, Some(l)))
    case LessThan(l: Literal, _: AttributeReference) => Some((Some(l), None))
    case LessThanOrEqual(l: Literal, _: AttributeReference) => Some((Some(l), None))
    case _ => None
  }

  /** The tightest of several literal bounds: `want` 1 → max (lower bounds),
    * -1 → min (upper bounds). None when a pair is incomparable. */
  private def tightest(ls: Seq[Literal], want: Int): Option[Literal] = {
    if (ls.isEmpty) return None
    def better(a: Literal, b: Literal): Option[Literal] =
      (numLit(a), numLit(b)) match {
        case (Some(x), Some(y)) => Some(if ((x - y) * want >= 0) a else b)
        case _ => try {
          for { ea <- extLit(a); eb <- extLit(b) }
            yield if (ea.compareTo(eb) * want >= 0) a else b
        } catch { case _: Exception => None }
      }
    ls.tail.foldLeft(Option(ls.head))((acc, l) => acc.flatMap(better(_, l)))
  }

  /** Estimated matching FRACTION of the fact table for one servable
    * conjunct. */
  private def estimate(e: Expression, r: Registered): Option[Double] = {
    def points(n: Int): Option[Double] =
      Some(math.min(1.0, n.toDouble / r.ndv) * nonNullFrac(r))
    e match {
      case IsNotNull(_) => Some(nonNullFrac(r))
      case EqualTo(_: AttributeReference, _: Literal) |
           EqualTo(_: Literal, _: AttributeReference) => points(1)
      // literal guard mirrors servable(): AnnRoutingRule.indexRegEstimates
      // feeds arbitrary single-column conjuncts here without the servable
      // pre-check, and a non-literal IN is a shape the registration stats
      // cannot judge (ADVICE r10)
      case In(_, vs) if vs.nonEmpty && vs.forall {
            case l: Literal => l.value != null
            case _ => false } => points(vs.size)
      case InSet(_, hset) if !hset.contains(null) => points(hset.size)
      // MVA: totalCnt counts element occurrences >= matching rows, so the
      // points estimate is an upper bound — conservative against routing
      case ArrayContains(_, _) => points(1)
      case ArraysOverlap(_, l: Literal) =>
        arrayLits(l).flatMap(ls => points(ls.size))
      // element-range ANY: rewrite the lambda body onto a proxy attribute
      // and estimate it like a scalar predicate over the element postings
      case ArrayExists(_, LambdaFunction(body, Seq(x: NamedLambdaVariable), _), _) =>
        val proxy = AttributeReference("__graft_elem", x.dataType,
          nullable = true)()
        val rewritten = body.transform {
          case nv: NamedLambdaVariable if nv.exprId == x.exprId => proxy
        }
        combinedEstimate(splitConjunctivePredicates(rewritten), r)
      // a disjunction matches at most the sum of its branches
      case Or(a, b) =>
        for { x <- estimate(a, r); y <- estimate(b, r) }
          yield math.min(1.0, x + y)
      // nested conjunction (under an Or branch): merge like a top-level one
      case And(_, _) => combinedEstimate(splitConjunctivePredicates(e), r)
      case cmp if cmpBounds(cmp).isDefined =>
        val (lo, hi) = cmpBounds(cmp).get
        rangeEst(r, lo, hi)
      case _ => None
    }
  }

  /** Estimate for a CONJUNCTION of servable shapes over one index:
    * comparison conjuncts merge into a single interval first (a BETWEEN is
    * two conjuncts — estimating each side alone loses the intersection;
    * the reference's PGM searches both bounds together, pgm.h:105-155),
    * everything else contributes its own estimate; min over all parts.
    * None when ANY part is un-estimable (conservative: stay exact).
    * `private[plans]`: [[AnnRoutingRule]] consults the same estimator for
    * filter shapes its footer-stats path cannot judge (string equality /
    * ranges over an index-registered column) — one estimate source for
    * both routers, the way the reference host's CalcCount/EstimateMinMax
    * feed every access-path decision including the KNN bypass. */
  private[plans] def combinedEstimate(s: Seq[Expression],
                                      r: Registered): Option[Double] = {
    val (cmps, others) = s.partition(c => cmpBounds(c).isDefined)
    val ests = scala.collection.mutable.Buffer[Option[Double]]()
    ests ++= others.map(estimate(_, r))
    if (cmps.nonEmpty) {
      val bounds = cmps.map(c => cmpBounds(c).get)
      val los = bounds.flatMap(_._1)
      val his = bounds.flatMap(_._2)
      val lo = tightest(los, want = 1)
      val hi = tightest(his, want = -1)
      ests += (
        if ((los.isEmpty || lo.isDefined) && (his.isEmpty || hi.isDefined))
          rangeEst(r, lo, hi)
        else {
          // incomparable bounds: per-conjunct minimum (still an upper bound)
          val per = cmps.map(estimate(_, r))
          if (per.exists(_.isEmpty)) None else per.flatten.minOption
        })
    }
    if (ests.exists(_.isEmpty)) None else ests.flatten.minOption
  }

  /** Rewrite predicate conjuncts from the fact column to the index table's
    * `value` column. MVA shapes lower to their element-wise postings form:
    * `array_contains(col, x)` → `value = x`, `arrays_overlap(col, xs)` →
    * `value IN xs` (each set element was posted, so a row matches iff one
    * of its elements' postings holds its key). */
  private def substitute(e: Expression, factCol: Attribute,
                         idxValue: Attribute): Expression = e match {
    case ArrayContains(a: AttributeReference, l: Literal)
        if a.semanticEquals(factCol) => EqualTo(idxValue, l)
    case ArraysOverlap(a: AttributeReference, l: Literal)
        if a.semanticEquals(factCol) =>
      In(idxValue, arrayLits(l).get)
    // element-range ANY: the lambda body over the element IS the postings
    // predicate — replace the lambda variable with the index value column
    case ArrayExists(a: AttributeReference,
        LambdaFunction(body, Seq(x: NamedLambdaVariable), _), _)
        if a.semanticEquals(factCol) =>
      body.transform {
        case nv: NamedLambdaVariable if nv.exprId == x.exprId => idxValue
      }
    case Or(l, r) =>
      Or(substitute(l, factCol, idxValue), substitute(r, factCol, idxValue))
    case _ => e.transform {
      case a: AttributeReference if a.semanticEquals(factCol) => idxValue
    }
  }

  /** The postings key stream as a logical sub-plan:
    * Project(key, Explode(rowids, Filter(pred, indexRelation))).
    * `idxPlan` must be a [[Routing.fresh]] instance owned by this one
    * injection. */
  private def keysPlan(idxPlan: LogicalPlan, idxCond: Expression)
      : Option[(LogicalPlan, Attribute)] = {
    val byName = idxPlan.output.map(a => a.name -> a).toMap
    for {
      rowids <- byName.get("rowids")
      elemType <- rowids.dataType match {
        case ArrayType(et, _) => Some(et)
        case _ => None
      }
    } yield {
      val keyAttr = AttributeReference("__graft_idx_key", elemType,
        nullable = false)()
      val gen = Generate(Explode(rowids), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(keyAttr),
        child = Filter(idxCond, idxPlan))
      (Project(Seq(keyAttr), gen), keyAttr)
    }
  }

  /** One routing candidate: a registered index, the conjuncts it can
    * serve, and the combined selectivity estimate. Conjuncts that are ONLY
    * IsNotNull never make a candidate on their own — Catalyst re-infers
    * IsNotNull from the join condition, so routing on it would re-fire
    * every fixpoint pass (and a bare NOTNULL is rarely selective anyway). */
  private final case class Candidate(r: Registered, servables: Seq[Expression],
                                     est: Double)

  private def candidatesOf(conjuncts: Seq[Expression], lr: LogicalRelation,
                           regs: List[Registered]): Seq[Candidate] =
    regs.flatMap { r =>
      lr.output.find(_.name == r.valueCol).flatMap { v =>
        val s0 = conjuncts.filter(c =>
          if (r.mva) servableMva(c, v) else servable(c, v))
        // MVA: conjuncts are ROW predicates but postings rows hold ONE
        // element — ANDing two onto the same postings row is unsatisfiable
        // (value = 10 AND value = 610 matches nothing even when a row's
        // set holds both). Route only the single most selective conjunct;
        // the rest stay residual above the semi-join.
        val s =
          if (r.mva && s0.size > 1)
            Seq(s0.minBy(c => estimate(c, r).getOrElse(Double.MaxValue)))
          else s0
        if (s.isEmpty || s.forall(isNotNullPred)) None
        else combinedEstimate(s, r).map(Candidate(r, s, _))
      }
    }

  private def multiSideCap: Double =
    session.conf.getOption("spark.graft.index.multiSideCap")
      .flatMap(_.toDoubleOption).getOrElse(0.5)

  /** CROSS-INDEX OR UNION (r10, completing the bitmap-union story): a
    * top-level `Or` conjunct whose every disjunct is FULLY served by some
    * registered index — possibly a different index per disjunct
    * (`a = x OR b < y` with indexes on `a` and `b`). The reference host
    * ORs filter iterators into one rowid bitmap exactly like this
    * (SpawnBitmapIterator unions per-value streams within one index,
    * secondary/blockreader.cpp:563-598; the host's filter tree unions
    * across iterators the same way). Per disjunct the cheapest serving
    * index wins; the route unions the per-disjunct postings key streams
    * (Distinct over Union — the bitmap), then ONE fact semi-join.
    * Estimate = sum of branch estimates capped at 1 (a row may match
    * several branches). All participating indexes must share the fact key
    * column — one id space — and the disjuncts must be fully consumed
    * (a partially-served branch would under-prune NOTHING but the
    * consumed-Or residual bookkeeping; keep it simple and exact). */
  private final case class OrRoute(conjunct: Expression,
                                   parts: Seq[(Registered, Expression)],
                                   est: Double)

  private def orCandidate(o: Expression, lr: LogicalRelation,
                          regs: List[Registered]): Option[OrRoute] = {
    val disjuncts = splitDisjunctivePredicates(o)
    if (disjuncts.size < 2) return None
    val parts = disjuncts.map { d =>
      val cands = regs.flatMap { r =>
        lr.output.find(_.name == r.valueCol).toSeq
          .filter(v => if (r.mva) servableMva(d, v) else servable(d, v))
          .flatMap(_ => combinedEstimate(splitConjunctivePredicates(d), r)
            .map(e => (r, d, e)))
      }
      // cheapest serving index per disjunct; idxRows breaks ties
      if (cands.isEmpty) None
      else Some(cands.minBy(t => (t._3, t._1.idxRows)))
    }
    if (parts.exists(_.isEmpty)) return None
    val ps = parts.flatten
    if (ps.map(_._1.keyCol).distinct.size != 1) return None
    // single-column clustered stand-down still applies: when every branch
    // lands on ONE baseClustered index, the pushdown scan prunes the whole
    // Or on the base table's own stats — the better plan (a CROSS-column
    // Or defeats single-column clustering, so those always qualify)
    if (ps.map(_._1.valueCol).distinct.size == 1 && ps.head._1.baseClustered)
      return None
    Some(OrRoute(o, ps.map(p => (p._1, p._2)),
      math.min(1.0, ps.map(_._3).sum)))
  }

  /** The union of the per-branch postings key streams — the rowid bitmap.
    * Deduped (as a group-by aggregate: the batch lowering logical Distinct
    * has already run by the time this rule fires) when several streams
    * union, or when `forceDedup` (the count path, where duplicates would
    * overcount; the semi-join path tolerates a single MVA stream's
    * per-element repeats). */
  private def orKeysUnion(or: OrRoute, lr: LogicalRelation,
                          forceDedup: Boolean)
      : Option[(LogicalPlan, Attribute)] = {
    val streams = or.parts.map { case (r, d) =>
      val idxPlan = Routing.fresh(r.indexPlan)
      for {
        v <- lr.output.find(_.name == r.valueCol)
        idxValue <- idxPlan.output.find(_.name == "value")
        ks <- keysPlan(idxPlan, substitute(d, v, idxValue))
      } yield ks
    }
    if (streams.exists(_.isEmpty)) return None
    val ss = streams.flatten
    // Union pairs columns by position: every stream must carry the same
    // key element type (they do for indexes over one fact table, but a
    // mis-registration must refuse, not mis-join)
    if (ss.map(_._2.dataType).distinct.size != 1) return None
    val keyAttr = ss.head._2
    val union =
      if (ss.size == 1) ss.head._1 else Union(ss.map(_._1).toSeq)
    val keys =
      if (ss.size > 1 || forceDedup)
        Aggregate(Seq(keyAttr), Seq(keyAttr), union, None)
      else union
    Some((keys, keyAttr))
  }

  /** The routed plan for an OR union: the deduped key union, one
    * left-semi fact probe; the other conjuncts stay residual. */
  private def buildOrRoute(or: OrRoute, conjuncts: Seq[Expression],
                           lr: LogicalRelation): Option[LogicalPlan] = {
    for {
      (keys, keyAttr) <- orKeysUnion(or, lr, forceDedup = false)
      factKey <- lr.output.find(_.name == or.parts.head._1.keyCol)
    } yield {
      val joinKey: Expression =
        if (factKey.dataType == keyAttr.dataType) factKey
        else Cast(factKey, keyAttr.dataType)
      val join = Join(lr, keys, LeftSemi,
        Some(EqualTo(joinKey, keyAttr)), JoinHint.NONE)
      val rest = stabilizeResidual(
        conjuncts.filterNot(_ eq or.conjunct), Seq(or.conjunct))
      if (rest.isEmpty) join else Filter(rest.reduce(And), join)
    }
  }

  /** Access-path choice. The filter route stands down for indexes whose
    * BASE table is already clustered by the value column: the pushdown
    * scan prunes to the same few files/row groups WITHOUT the semi-join
    * detour — the reference's EstimateMinMax-favors-the-columnar-analyzer
    * case.
    *
    * Single index first: the most selective candidate under the threshold
    * routes alone (its residual conjuncts evaluate for free on the few
    * semi-joined rows). When NO single candidate clears the gate,
    * MULTI-INDEX INTERSECTION (VERDICT r9 #1): conjuncts servable by two
    * or more registered indexes intersect their postings key streams (an
    * inner join of tiny exploded sets) before the one fact probe —
    * mirroring the reference host's sorted rowid-stream intersection
    * (TryToCreateAnalyzers consumes every eligible filter,
    * columnar/columnar.cpp:721-746; iterators merge with HintRowID
    * forward-skips, common/blockiterator.h:39, secondary/iterator.cpp:
    * 102-143). Gated on the PRODUCT of the estimates (independence
    * assumption — the broadcast set shrinks multiplicatively); sides
    * broader than `spark.graft.index.multiSideCap` never participate
    * (exploding half an index's postings costs more than it prunes). */
  private def tryFilter(cond: Expression, lr: LogicalRelation,
                        regs: List[Registered]): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val cands = candidatesOf(conjuncts, lr, regs.filterNot(_.baseClustered))
      .sortBy(_.est)
    // cross-index OR union candidates (one per Or-shaped conjunct)
    val orBest = conjuncts.filter(_.isInstanceOf[Or])
      .flatMap(o => orCandidate(o, lr, regs))
      .sortBy(_.est).headOption.filter(_.est <= threshold)
    val singleBest = cands.headOption.filter(_.est <= threshold)
    // both servable: the cheaper broadcast set is PREFERRED, but a refusal
    // deep in the preferred build (missing index columns, mismatched key
    // types from a mis-registration) falls back to the other — a viable
    // gated candidate must never be dropped because the cheaper shape
    // could not be built (review r10-2)
    val attempts: Seq[() => Option[LogicalPlan]] = {
      val s = singleBest.map(c => () => buildRoute(Seq(c), conjuncts, lr))
      val o = orBest.map(r => () => buildOrRoute(r, conjuncts, lr))
      (singleBest, orBest) match {
        case (Some(sc), Some(oc)) if sc.est <= oc.est => Seq(s.get, o.get)
        case (Some(_), Some(_)) => Seq(o.get, s.get)
        case _ => s.toSeq ++ o.toSeq
      }
    }
    attempts.view.flatMap(_()).headOption.orElse {
      // multi-index intersection fallback
      if (cands.isEmpty) None
      else {
        val picked = scala.collection.mutable.Buffer[Candidate]()
        cands.foreach { c =>
          // one candidate per value column; all streams must share the
          // fact key or the intersection would merge different id spaces.
          // The key anchor is the first PICKED candidate, not cands.head —
          // a broad primary excluded by the cap must not veto a valid
          // narrower pair on a different key (review r10).
          if (c.est <= multiSideCap &&
              picked.headOption.forall(_.r.keyCol == c.r.keyCol) &&
              !picked.exists(_.r.valueCol == c.r.valueCol)) picked += c
        }
        if (picked.size >= 2 && picked.map(_.est).product <= threshold)
          buildRoute(picked.toSeq, conjuncts, lr)
        else None
      }
    }
  }

  /** Residual conjuncts that would RE-EARN a consumed hash-companion
    * conjunct — a string equality/IN whose column's `__hash` companion we
    * just routed — are rewritten to the null-safe form HashCompanionRule
    * does not match. Semantically identical under a Filter (both reject
    * NULL rows), but without it the cascade never terminates: pushdown
    * re-lands the string residual beside the relation, HashCompanionRule
    * re-adds the very hash conjunct this route consumed, and the route
    * fires again every fixpoint pass (review r10-3: a 200-deep semi-join
    * stack). Rewritten shapes mirror exactly what hashPredFor earns from,
    * so no other predicate is ever touched. */
  private def stabilizeResidual(rest: Seq[Expression],
                                consumed: Seq[Expression]): Seq[Expression] = {
    val suffix = graft.tables.Writer.HashSuffix
    val hashCols = consumed.flatMap(_.references.toSeq.map(_.name))
      .filter(_.endsWith(suffix)).toSet
    def earner(a: AttributeReference, l: Literal): Boolean =
      l.dataType == org.apache.spark.sql.types.StringType &&
        l.value != null && hashCols.contains(a.name + suffix)
    rest.map {
      case EqualTo(a: AttributeReference, l: Literal) if earner(a, l) =>
        EqualNullSafe(a, l)
      case EqualTo(l: Literal, a: AttributeReference) if earner(a, l) =>
        EqualNullSafe(a, l)
      // keep the set shape (Parquet still pushes InSet as a source IN;
      // an Or-chain would lose that and build a deep tree — ADVICE r10),
      // but as InSet, which HashCompanionRule does not earn from
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall {
            case l: Literal => earner(a, l)
            case _ => false } =>
        InSet(a, vs.map { case l: Literal => l.value }.toSet)
      case o => o
    }
  }

  /** The routed plan for one or more candidates: per-candidate postings
    * key streams, inner-joined to their intersection when there are
    * several, then ONE left-semi fact probe; unconsumed conjuncts stay as
    * a residual Filter above it. */
  private def buildRoute(chosen: Seq[Candidate], conjuncts: Seq[Expression],
                         lr: LogicalRelation): Option[LogicalPlan] = {
    val consumed = chosen.flatMap(_.servables)
    val rest = stabilizeResidual(
      conjuncts.filterNot(c => consumed.exists(_ eq c)), consumed)
    val streams = chosen.map { c =>
      val idxPlan = Routing.fresh(c.r.indexPlan)
      for {
        v <- lr.output.find(_.name == c.r.valueCol)
        idxValue <- idxPlan.output.find(_.name == "value")
        ks <- keysPlan(idxPlan,
          c.servables.map(substitute(_, v, idxValue)).reduce(And))
      } yield
        // an MVA stream may repeat a key across matched elements; inside
        // an INTERSECTION inner join duplicates would multiply across
        // sides (review r10 — the reference intersects UNIQUE sorted
        // rowid streams), so dedup it first — as a group-by aggregate,
        // because the batch lowering logical Distinct has already run.
        // Scalar streams are unique by layout invariant 6; the
        // single-stream route stays dedup-free.
        if (c.r.mva && chosen.size > 1)
          (Aggregate(Seq(ks._2), Seq(ks._2), ks._1, None): LogicalPlan, ks._2)
        else ks
    }
    if (streams.exists(_.isEmpty)) return None
    // intersection joins key streams pairwise on EqualTo: refuse the route
    // if a mis-registered index pair carries different key element types —
    // an ill-typed comparison injected post-analysis fails the whole query
    // instead of just skipping the optimization (ADVICE r10; mirrors the
    // orKeysUnion guard)
    if (streams.flatten.map(_._2.dataType).distinct.size != 1) return None
    for {
      factKey <- lr.output.find(_.name == chosen.head.r.keyCol)
    } yield {
      val (keys, keyAttr) = streams.flatten.reduceLeft[(LogicalPlan, Attribute)] {
        case ((p1, k1), (p2, k2)) =>
          (Project(Seq(k1),
            Join(p1, p2, Inner, Some(EqualTo(k1, k2)), JoinHint.NONE)), k1)
      }
      val joinKey: Expression =
        if (factKey.dataType == keyAttr.dataType) factKey
        else Cast(factKey, keyAttr.dataType)
      val join = Join(lr, keys, LeftSemi,
        Some(EqualTo(joinKey, keyAttr)), JoinHint.NONE)
      if (rest.isEmpty) join else Filter(rest.reduce(And), join)
    }
  }

  /** CalcCount over an OR spanning SEVERAL indexes (r10): no single index
    * serves the condition, but the deduped union of the per-branch key
    * streams IS the matching row set — COUNT(*) of it is the answer (the
    * bitmap popcount), still zero fact IO. Unlike the single-index
    * sum(cnt) this explodes the matching postings, so it carries the same
    * selectivity gate as the filter route: at broad estimates the
    * pushdown scan-count is the better plan. The whole WHERE must be that
    * one Or conjunct — any other conjunct would need fact rows. */
  private def tryOrCount(a: Alias, o: Or, lr: LogicalRelation,
                         regs: List[Registered]): Option[LogicalPlan] =
    orCandidate(o, lr, regs).filter(_.est <= threshold).flatMap { or =>
      orKeysUnion(or, lr, forceDedup = true).map { case (keys, _) =>
        Aggregate(Nil,
          Seq(Alias(Count(Seq(Literal(1))).toAggregateExpression(),
            a.name)(exprId = a.exprId)),
          keys, None)
      }
    }
}
