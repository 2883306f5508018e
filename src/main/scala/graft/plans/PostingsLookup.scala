package graft.plans

import graft.engine.Graft
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BinaryComparison, BoundReference, Cast, EqualTo, Expression, ExprId, Explode, In, Literal, SpecificInternalRow, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType}

import scala.util.control.NonFatal

/** A condition a task evaluates over a scan row: `expr`'s columns are
  * bound by position, and the literal operands of its comparisons read
  * `params`, placed after the row's columns. The generated predicate is
  * then one class per condition shape, compiled once, not once per
  * looked-up value. */
final case class TaskCond(expr: Expression, params: Seq[Any])

/** One side of a [[PostingsLookupExec]]: the parquet dir at `root`, read
  * as `cols`, and the conjunction of `conds` (by column name) evaluated
  * over them. `pin` is the dir's [[Graft.pinned]] scan, taken when the
  * plan was made and its files were checked against the query's
  * relation, so every run of the plan reads those files, or the dir's
  * rows held on the driver. `pushed`, when set, is the condition pushed
  * into a [[Graft.prunedScan]] of `read` instead of reading every row of
  * `scan`. */
final case class LookupScan(root: String, cols: Seq[String],
                            conds: Seq[Expression],
                            pushed: Option[Expression],
                            @transient pin: Graft.Pinned) {
  def read: DataFrame = pin.df
  def scan: RDD[InternalRow] = pin.scan

  /** The condition over a row of `cols`. */
  lazy val cond: Option[TaskCond] = condOver(cols)

  /** The condition over a row of `columns`. */
  def condOver(columns: Seq[String]): Option[TaskCond] =
    PostingsLookupExec.bind(conds, columns.size, a => columns.indexOf(a.name))

  /** The scan a run reads. */
  def rows: RDD[InternalRow] =
    pushed.fold(scan)(Graft.prunedScan(read, cols, _))

  override def toString: String =
    s"$root${cols.mkString("[", ", ", "]")}" +
      pushed.fold("")(p => s" pushed ${p.sql}")
}

/** A routed secondary-index lookup as one leaf: the rows of the fact scan
  * `fact` whose key (column `keyAt`, integral, widened to long) is one of
  * the keys the postings rows passing `postings.cond` hold in their
  * `rowids` (column 0) and that pass `keyCond` (over the key, column 0).
  * It is the LEFT SEMI join [[IndexRoutingRule]] routes a filter to, and
  * the one [[graft.index.SecondaryIndex.semiJoin]] builds, answered the
  * way the reference turns a filter into rowid iterators and reads only
  * those rows (`SecondaryIndex_c::CreateIterators`, secondary.cpp:745):
  *
  *  - the keys: the passing postings rows' keys, sorted and deduplicated
  *    into a `long[]` on the driver. They are read one of three ways:
  *    - resident: postings of at most [[PostingsLookupExec.PushedBytes]]
  *      whose rows are held on the driver ([[Graft.Pinned.held]], within
  *      [[GraphCandidatesExec.resultBudget]] over all held rows) are
  *      walked there, with no job — the reference's block cache of
  *      decoded postings. The first lookup over them reads them in;
  *    - scanned: small postings that are not held — they do not fit,
  *      or were evicted to make room for others — run job 1 over their
  *      memoized scan; each task explodes the passing rows' keys and
  *      sends them while they fit its share of `keyBudget`, else only
  *      that they overflowed;
  *    - pushed: past `PushedBytes` job 1 runs over a per-query scan with
  *      the conditions pushed into it, which skips files, row groups and
  *      pages by value;
  *  - the fetch is the query's own job over the fact table's memoized
  *    scan: its tasks keep the rows whose key binary-searches into that
  *    array and that pass `fact.cond`.
  *
  * The plan holds no exchange, so the built-in planner's broadcast join
  * (an AQE-wrapped query with a broadcast stage, re-planned on every
  * query) becomes one SQL execution: of one job over resident postings,
  * else of two. Past the key budget — a quarter of
  * `spark.driver.maxResultSize` at most 64 MB, in 8-byte keys, so the
  * keys job's results never near that limit — the keys stay distributed:
  * the fetch co-groups the fact rows with the exploded keys of the
  * postings' scan by key, one shuffle of both. */
final case class PostingsLookupExec(output: Seq[Attribute],
                                    postings: LookupScan,
                                    keyCond: Option[TaskCond],
                                    fact: LookupScan, keyAt: Int,
                                    keyType: DataType) extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "keys" -> SQLMetrics.createMetric(sparkContext, "keys collected"),
    "scanned" -> SQLMetrics.createMetric(sparkContext, "fact rows scanned"),
    "returned" -> SQLMetrics.createMetric(sparkContext, "rows returned"),
    "fallback" -> SQLMetrics.createMetric(sparkContext, "fallback taken"),
    "resident" -> SQLMetrics.createMetric(sparkContext,
      "keys read on the driver"))

  override def simpleString(maxFields: Int): String =
    s"PostingsLookup ${output.mkString("[", ", ", "]")} " +
      s"postings ${postings.root} -> fact ${fact.root}"

  override protected def doExecute(): RDD[InternalRow] = rows()

  /** Reads the keys and returns the fetch; `keyBudget` bounds the keys
    * taken to the driver. The driver's metrics are posted to the running
    * SQL execution; the fetch's tasks count theirs. */
  def rows(keyBudget: Long = PostingsLookupExec.keyBudget(
      sparkContext)): RDD[InternalRow] = {
    lazy val postingsRows = postings.rows
    val held = if (postings.pushed.isDefined) None
      else postings.pin.held(GraphCandidatesExec.resultBudget(sparkContext))
    val keys = held.fold(collectKeys(postingsRows, keyBudget)) { r =>
      val ks = heldKeys(r, keyBudget)
      if (ks.isDefined) metrics("resident") += 1
      ks
    }
    if (keys.isEmpty) metrics("fallback") += 1
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(metrics("keys"), metrics("fallback"), metrics("resident")))
    keys.fold(coGrouped(postingsRows))(fetch)
  }

  /** The output columns of a fact scan row. */
  private def projection: Seq[Expression] = output.map(a =>
    BoundReference(fact.cols.indexOf(a.name), a.dataType, a.nullable))

  /** Job 1: the sorted distinct keys, or None when a task's keys pass its
    * share of `keyBudget` — a task sends no more than its share, so the
    * job's results stay within the budget however many tasks it has. */
  private def collectKeys(scan: RDD[InternalRow],
                          keyBudget: Long): Option[Array[Long]] = {
    val share = math.min(math.max(0L, keyBudget) /
      math.max(1, scan.getNumPartitions), Int.MaxValue - 2L).toInt
    val explode = PostingsLookupExec.keys(postings.cond, keyCond, 0)
    val got = new scala.collection.mutable.ArrayBuilder.ofLong
    var over = false
    sparkContext.runJob(scan,
      (it: Iterator[InternalRow]) => {
        val part = explode(it).take(share + 1).toArray
        if (part.length > share) null else part
      },
      (_: Int, part: Array[Long]) =>
        if (part == null) over = true else got ++= part)
    if (over) None else Some(distinct(got.result()))
  }

  /** The keys over postings rows held on the driver, or None past
    * `keyBudget` of them. */
  private def heldKeys(held: Graft.HeldRows,
                       keyBudget: Long): Option[Array[Long]] = {
    val cap = math.min(math.max(0L, keyBudget), Int.MaxValue - 2L).toInt
    val ks = PostingsLookupExec.keys(postings.condOver(held.columns), keyCond,
        held.columns.indexOf(postings.cols.head))(held.iterator)
      .take(cap + 1).toArray
    if (ks.length > cap) None else Some(distinct(ks))
  }

  /** `ks` sorted and deduplicated, in place; counts them in `keys`. */
  private def distinct(ks: Array[Long]): Array[Long] = {
    metrics("keys") += ks.length
    java.util.Arrays.sort(ks)
    var m = 0
    var i = 0
    while (i < ks.length) {
      if (m == 0 || ks(i) != ks(m - 1)) { ks(m) = ks(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(ks, m)
  }

  /** The fetch within budget: the fact rows whose key is in `keys`, which
    * ride a broadcast (up to the budget's 64 MB would not fit every task). */
  private def fetch(keys: Array[Long]): RDD[InternalRow] = {
    val b = sparkContext.broadcast(keys)
    val (cond, at, dt, proj0) = (fact.cond, keyAt, keyType, projection)
    val (scanned, returned) = (longMetric("scanned"), longMetric("returned"))
    fact.rows.mapPartitions { it =>
      val ks = b.value
      val key = GraphCandidatesExec.longAt(at, dt)
      val pass = PostingsLookupExec.passing(cond)
      val proj = UnsafeProjection.create(proj0)
      it.filter { r =>
        scanned += 1
        !r.isNullAt(at) && java.util.Arrays.binarySearch(ks, key(r)) >= 0 &&
          pass(r)
      }.map { r => returned += 1; proj(r) }
    }
  }

  /** The fetch past the budget: the passing fact rows co-grouped by key
    * with the exploded keys — one shuffle of both, no key on the driver. */
  private def coGrouped(postingsRows: RDD[InternalRow]): RDD[InternalRow] = {
    val explode = PostingsLookupExec.keys(postings.cond, keyCond, 0)
    val (cond, at, dt, proj0) = (fact.cond, keyAt, keyType, projection)
    val (scanned, returned) = (longMetric("scanned"), longMetric("returned"))
    val facts = fact.rows.mapPartitions { it =>
      val key = GraphCandidatesExec.longAt(at, dt)
      val pass = PostingsLookupExec.passing(cond)
      val proj = UnsafeProjection.create(proj0)
      it.filter { r => scanned += 1; !r.isNullAt(at) && pass(r) }
        .map(r => (key(r), proj(r).copy(): InternalRow))
    }
    val keys = postingsRows.mapPartitions(explode(_).map(k => (k, ())))
    facts.cogroup(keys, new HashPartitioner(math.max(1, facts.getNumPartitions)))
      .flatMap { case (_, (rows, hits)) =>
        if (hits.isEmpty) Nil else { returned += rows.size; rows }
      }
  }
}

object PostingsLookupExec {

  /** Postings listings larger than this many bytes are read through a
    * [[Graft.prunedScan]] of the lookup's conditions, planned per query,
    * which skips files, row groups and pages by value. Smaller ones are
    * read whole: held on the driver while their rows fit the result
    * budget ([[Graft.Pinned.held]]), else through their memoized scan,
    * which costs less than the per-query planning. At sf0.1 on 4 cores,
    * the routed `IndexQueries` gates over postings of up to 3 MB (150k
    * rows) ran 11–28 ms faster scanning them whole, and those over an
    * 8.5 MB, 540k-row postings 58–72 ms slower. */
  val PushedBytes: Long = 4L << 20

  /** Keys a lookup collects to the driver: [[GraphCandidatesExec
    * .resultBudget]] in 8-byte keys. */
  def keyBudget(sc: org.apache.spark.SparkContext): Long =
    GraphCandidatesExec.resultBudget(sc) / 8

  /** The keys, in column `rowids`, of the postings rows a task reads that
    * pass `cond`, each passing `keyCond`; NULL arrays and elements hold no
    * key. */
  def keys(cond: Option[TaskCond], keyCond: Option[TaskCond], rowids: Int)
      : Iterator[InternalRow] => Iterator[Long] = { it =>
    val pass = passing(cond)
    val keyPass = passing(keyCond)
    val one = new SpecificInternalRow(Seq(LongType))
    it.filter(r => !r.isNullAt(rowids) && pass(r)).flatMap { r =>
      val ids = r.getArray(rowids)
      Iterator.range(0, ids.numElements()).filter(!ids.isNullAt(_))
        .map(ids.getLong).filter { k => one.setLong(0, k); keyPass(one) }
    }
  }

  /** The exec for a LEFT SEMI equi-join of Project/Filter nodes over a
    * single-root parquet relation (the fact) with the keys an `Explode` of
    * a postings table's `rowids` yields — Project/Filter nodes over the
    * postings relation below it, Project/Filter nodes over the key above
    * it — joined on a fact column of integral type, widened to long. None
    * for any other join, and where a memoized scan would not read the
    * files the query's relation lists. Postings listing more than
    * `pushedBytes` push their conditions into the scan. */
  def plan(j: Join, pushedBytes: Long = PushedBytes)
      : Option[PostingsLookupExec] = j match {
    case Join(left, right, LeftSemi, Some(EqualTo(a, b)), _) =>
      for {
        (keyIds, keyConds, gen) <- keysSide(right)
        factKey <- factKeyOf(a, left).filter(_ => keyOf(b, keyIds))
          .orElse(factKeyOf(b, left).filter(_ => keyOf(a, keyIds)))
        (factConds, factRel) <- scanChain(left)
        rowids <- gen.generator match {
          case Explode(r: AttributeReference) if r.name == "rowids" &&
              r.dataType.isInstanceOf[ArrayType] &&
              r.dataType.asInstanceOf[ArrayType].elementType == LongType =>
            Some(r)
          case _ => None
        }
        (postConds, postRel) <- scanChain(gen.child)
        if postRel.outputSet.contains(rowids)
        factCols = (left.output ++ factConds.flatMap(_.references) :+ factKey)
          .map(_.name).distinct
        postCols = (rowids +: postConds.flatMap(_.references)).map(_.name)
          .distinct
        (factRoot, factPin, _) <- pinned(factRel, factCols)
        (postRoot, postPin, postBytes) <- pinned(postRel, postCols)
      } yield PostingsLookupExec(left.output,
          LookupScan(postRoot, postCols, postConds,
            postConds.reduceOption(And).filter(_ => postBytes > pushedBytes),
            postPin),
          bind(keyConds, 1, _ => 0),
          LookupScan(factRoot, factCols, factConds, None, factPin),
          factCols.indexOf(factKey.name), factKey.dataType)
    case _ => None
  }

  /** The rows `df` keeps — Filter nodes over a parquet dir of at most
    * [[PushedBytes]] — with every column of the dir, named by the first
    * element, from its rows held on the driver ([[Graft.Pinned.held]]),
    * with no job once they are held. None for postings past that size or
    * not held within the result budget, and for any other plan. */
  def heldRows(df: DataFrame): Option[(Seq[String], Iterator[InternalRow])] =
    scanChain(df.queryExecution.analyzed).flatMap { case (conds, rel) =>
      pinned(rel, rel.output.map(_.name)).collect {
        case (_, pin, bytes) if bytes <= PushedBytes => pin
      }.flatMap(_.held(GraphCandidatesExec.resultBudget(
          df.sparkSession.sparkContext)))
        .map { r =>
          val cond = bind(conds, r.columns.size, a => r.columns.indexOf(a.name))
          (r.columns, r.iterator.filter(passing(cond)))
        }
    }

  /** A task's test of a [[TaskCond]]. */
  def passing(cond: Option[TaskCond]): InternalRow => Boolean =
    GraphCandidatesExec.passing(cond.map(_.expr),
      cond.fold(Seq.empty[Any])(_.params))

  /** The conjunction of `conds` over a row of `width` columns, each
    * attribute at `at(attribute)`. */
  private[plans] def bind(conds: Seq[Expression], width: Int,
                          at: AttributeReference => Int): Option[TaskCond] =
    conds.reduceOption(And).map { c =>
      val params = scala.collection.mutable.ArrayBuffer.empty[Any]
      def lift(e: Expression): Expression = e match {
        case l: Literal =>
          params += l.value
          BoundReference(width + params.size - 1, l.dataType, l.nullable)
        case o => o
      }
      val bound = c.transform {
        case a: AttributeReference => BoundReference(at(a), a.dataType, nullable = true)
      }.transformUp {
        case b: BinaryComparison => b.withNewChildren(b.children.map(lift))
        case i: In => i.withNewChildren(i.children.map(lift))
      }
      TaskCond(bound, params.toSeq)
    }

  private def plain(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e)

  /** The conditions of the Filter nodes and the relation under
    * column-pruning Projects and Filters. */
  private def scanChain(p: LogicalPlan)
      : Option[(Seq[Expression], LogicalRelation)] = p match {
    case lr: LogicalRelation => Some((Nil, lr))
    case Project(list, c) if list.forall(_.isInstanceOf[AttributeReference]) =>
      scanChain(c)
    case Filter(cond, c) if plain(cond) =>
      scanChain(c).map { case (cs, lr) => (cond +: cs, lr) }
    case _ => None
  }

  /** The ids the exploded key goes by, the conditions on it and the
    * `Explode` under Projects (the key or an alias of it) and Filters
    * (over the key alone). */
  private def keysSide(p: LogicalPlan)
      : Option[(Set[ExprId], Seq[Expression], Generate)] = p match {
    case g @ Generate(_: Explode, _, _, _, Seq(k), _) =>
      Some((Set(k.exprId), Nil, g))
    case Project(Seq(ne), c) => keysSide(c).flatMap { case (ids, cs, g) =>
      ne match {
        case a: AttributeReference if ids(a.exprId) => Some((ids, cs, g))
        case Alias(a: AttributeReference, _) if ids(a.exprId) =>
          Some((ids + ne.exprId, cs, g))
        case _ => None
      }
    }
    case Filter(cond, c) if plain(cond) => keysSide(c).collect {
      case (ids, cs, g) if cond.references.forall(a => ids(a.exprId)) =>
        (ids, cond +: cs, g)
    }
    case _ => None
  }

  private def keyOf(e: Expression, ids: Set[ExprId]): Boolean = e match {
    case a: AttributeReference => ids(a.exprId) && a.dataType == LongType
    case _ => false
  }

  /** The fact column a join key reads, exactly widened to long. */
  private def factKeyOf(e: Expression,
                        left: LogicalPlan): Option[AttributeReference] = {
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    e match {
      case a: AttributeReference if a.dataType == LongType &&
          left.outputSet.contains(a) => Some(a)
      case c: Cast if c.dataType == LongType => c.child match {
        case a: AttributeReference if integral(a.dataType) &&
            left.outputSet.contains(a) => Some(a)
        case _ => None
      }
      case _ => None
    }
  }

  /** The root `lr` reads, its [[Graft.pinned]] scan of `cols` and the
    * bytes of its files, when that read lists the same files (path,
    * length, modification time) and types `cols` alike — otherwise the
    * memoized scan would answer from other rows. */
  private def pinned(lr: LogicalRelation, cols: Seq[String])
      : Option[(String, Graft.Pinned, Long)] =
    lr.relation match {
      case h: HadoopFsRelation if !lr.isStreaming &&
          h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.location.rootPaths.size == 1 =>
        val root = h.location.rootPaths.head.toString
        try {
          val pin = Graft.pinned(SparkSession.active, root, cols)
          val listed = files(h)
          val same = pin.df.queryExecution.analyzed.collectFirst {
            case c: LogicalRelation => c
          }.exists { c =>
            c.relation match {
              case ch: HadoopFsRelation =>
                files(ch) == listed && cols.forall { n =>
                  val t = lr.output.find(_.name == n).map(_.dataType)
                  t.isDefined && c.output.find(_.name == n).map(_.dataType) == t
                }
              case _ => false
            }
          }
          if (same) Some((root, pin, listed.toSeq.map(_._2).sum))
          else None
        } catch { case NonFatal(_) => None }
      case _ => None
    }

  private def files(h: HadoopFsRelation): Set[(String, Long, Long)] =
    h.location.listFiles(Nil, Nil).flatMap(_.files).map(f =>
      (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
}
