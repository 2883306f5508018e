package graft.plans

import graft.SparkT
import graft.index.SecondaryIndex
import graft.tables.Writer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The routed lookup leaf ([[PostingsLookupExec]]): a routed filter and an
  * explicit [[SecondaryIndex.semiJoin]] plan one leaf that collects the
  * postings keys in one job and fetches the fact rows in the query's own
  * job — the same rows as the unrouted query, within and past the key
  * budget, and only over the files the query's relation lists. */
class PostingsLookupSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private val tmp = Files.createTempDirectory("graft-lookup")

  private def rowsOf(i: Long) =
    (i, i / 2, i * 0.25, i % 100, Seq(i / 2, i / 2 + 600))

  /** `base` registered (v, d and the MVA arr, each keyed by id), `copy`
    * the same rows unregistered; `ibase`/`icopy` likewise with an int
    * key. */
  private lazy val (base, copy, ibase, icopy, idxV) = {
    val df = (0L until 1000L).map(rowsOf).toDF("id", "v", "d", "x", "arr")
    val idf = (0 until 1000).map(i => (i, i / 2L)).toDF("iid", "v")
    val paths @ (b, c, ib, ic, iv) = (tmp.resolve("base").toString,
      tmp.resolve("copy").toString, tmp.resolve("ibase").toString,
      tmp.resolve("icopy").toString, tmp.resolve("idxv").toString)
    Seq(b -> df, c -> df).foreach { case (p, d) =>
      Writer.write(d, p, sortBy = Seq("id")) }
    Seq(ib -> idf, ic -> idf).foreach { case (p, d) =>
      Writer.write(d, p, sortBy = Seq("iid")) }
    val rd = SparkT.spark.read.parquet(b)
    SecondaryIndex.build(rd, "v", "id", iv)
    SecondaryIndex.build(rd, "d", "id", tmp.resolve("idxd").toString)
    SecondaryIndex.buildMva(rd, "arr", "id", tmp.resolve("idxarr").toString)
    SecondaryIndex.build(SparkT.spark.read.parquet(ib), "v", "iid",
      tmp.resolve("idxiv").toString)
    IndexRouting.register(SparkT.spark, b, iv, "v", "id")
    IndexRouting.register(SparkT.spark, b, tmp.resolve("idxd").toString,
      "d", "id")
    IndexRouting.register(SparkT.spark, b, tmp.resolve("idxarr").toString,
      "arr", "id", mva = true)
    IndexRouting.register(SparkT.spark, ib, tmp.resolve("idxiv").toString,
      "v", "iid")
    paths
  }

  private def read(p: String): DataFrame = SparkT.spark.read.parquet(p)

  private def lookups(df: DataFrame): Seq[PostingsLookupExec] =
    df.queryExecution.executedPlan.collect { case e: PostingsLookupExec => e }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** An explicit rowid window: postings of `vs` within keys [lo, hi]. */
  private def window(fact: DataFrame, vs: Seq[Long], lo: Long, hi: Long) =
    SecondaryIndex.semiJoin(fact, "id", SecondaryIndex.lookupKeys(
      SparkT.spark, idxV, vs, keyRange = Some((lo, hi))))

  test("table: the lookup leaf returns the rows of the same query over an unregistered copy") {
    val cases = Seq[(String, String => DataFrame)](
      "point" -> (p => read(p).filter($"v" === 10L)),
      "IN" -> (p => read(p).filter($"v".isin(3L, 7L, 400L)).select($"id", $"d")),
      "long range" -> (p => read(p).filter($"v".between(10L, 25L))),
      "double range" -> (p => read(p).filter($"d" >= 10.0 && $"d" < 20.0)
        .select($"id", $"d")),
      "residual" -> (p => read(p).filter($"v" === 10L && $"x" > 20L)
        .select($"id")),
      "MVA array_contains" -> (p => read(p).filter(array_contains($"arr", 610L))
        .select($"id", $"arr")),
      "int key" -> (p => read(if (p == base) ibase else icopy)
        .filter($"v" === 10L)))
    for ((what, q) <- cases) {
      val routed = q(base)
      assert(lookups(routed).size === 1,
        s"$what: ${routed.queryExecution.executedPlan}")
      val want = sorted(q(copy))
      assert(want.nonEmpty, what)
      assert(sorted(routed) === want, what)
    }
    val w = window(read(base), Seq(10L, 11L, 300L), 0L, 30L)
    assert(lookups(w).size === 1, w.queryExecution.executedPlan.toString)
    assert(sorted(w) === sorted(read(copy)
      .filter($"v".isin(10L, 11L, 300L) && $"id".between(0L, 30L))))
    assert(sorted(w).size === 4)
  }

  test("work per lookup: one SQL execution of at most two jobs, no broadcast, no shuffle") {
    def point = read(base).filter($"v" === 12L).select($"id", $"x")
    def win = window(read(base), Seq(12L), 0L, 1000L)
    for ((what, q) <- Seq[(String, () => DataFrame)](
        "routed point" -> (() => point), "rowid window" -> (() => win))) {
      q().collect() // lists the tables and plans their memoized scans
      val df = q()
      val (rows, work) = graft.WorkCount(SparkT.spark)(df.collect())
      assert(rows.map(_.getLong(0)).toSet === Set(24L, 25L), what)
      assert(work.executions === 1 && work.jobs >= 1 && work.jobs <= 2,
        s"$what: $work")
      val plan = df.queryExecution.executedPlan
      assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], s"$what: $plan")
      assert(lookups(df).size === 1, s"$what: $plan")
      assert(plan.collect {
        case p @ (_: BroadcastExchangeExec | _: BroadcastHashJoinExec |
                  _: ShuffleExchangeExec | _: SortMergeJoinExec) => p
      }.isEmpty, s"$what: $plan")
    }
  }

  test("a warm lookup over resident postings is one SQL execution of one job") {
    def point = read(base).filter($"v" === 13L).select($"id", $"x")
    def win = window(read(base), Seq(13L), 0L, 1000L)
    for ((what, q) <- Seq[(String, () => DataFrame)](
        "routed point" -> (() => point), "rowid window" -> (() => win))) {
      q().collect() // reads the postings rows in
      val df = q()
      val (rows, work) = graft.WorkCount(SparkT.spark)(df.collect())
      assert(rows.map(_.getLong(0)).toSet === Set(26L, 27L), what)
      assert(work.executions === 1 && work.jobs === 1, s"$what: $work")
      assert(lookups(df).map(_.metrics("resident").value) === Seq(1L), what)
    }
  }

  /** `sum(cnt)` of the postings rows of `idx` passing `pred`, by a job. */
  private def aggregate(idx: String, pred: Column): Long =
    read(idx).filter(pred).agg(coalesce(sum($"cnt"), lit(0L))).head.getLong(0)

  /** Jobs the thunk runs, and its result. */
  private def jobs[A](thunk: => A): (A, Int) = {
    val (a, work) = graft.WorkCount(SparkT.spark)(thunk)
    (a, work.jobs)
  }

  test("warm index-only counts run no job and equal the DataFrame aggregate, MVA and null group included") {
    // v is NULL on every seventh row, so the postings carry a null group
    val fact = tmp.resolve("nulls").toString
    val idx = tmp.resolve("nulls_idx").toString
    val rows = (0L until 500L).map(i =>
      (i, if (i % 7 == 0) None else Some(i % 40)))
    Writer.write(rows.toDF("id", "v"), fact, sortBy = Seq("id"))
    SecondaryIndex.build(read(fact), "v", "id", idx)
    val arrIdx = { base; tmp.resolve("idxarr").toString }
    val cases = Seq[(String, () => Long, Long)](
      ("point", () => SecondaryIndex.calcCount(SparkT.spark, idx, Seq(3L, 9L)),
        aggregate(idx, $"value".isin(3L, 9L))),
      ("range", () => SecondaryIndex.calcCountRange(SparkT.spark, idx,
        Some(5L), Some(12L), hiInclusive = false),
        aggregate(idx, $"value" >= 5L && $"value" < 12L)),
      ("not null", () => SecondaryIndex.calcCountNotNull(SparkT.spark, idx),
        aggregate(idx, $"value".isNotNull)),
      ("MVA values", () => SecondaryIndex.calcCount(SparkT.spark, arrIdx,
        Seq(10L, 610L, 611L)), aggregate(arrIdx, $"value".isin(10L, 610L, 611L))))
    for ((what, count, want) <- cases) {
      count() // reads the postings rows in
      val (got, n) = jobs(count())
      assert(n === 0, what)
      assert(got === want, what)
    }
    assert(cases(1)._3 === read(fact).filter($"v" >= 5L && $"v" < 12L).count())
    assert(cases(2)._3 === rows.count(_._2.isDefined))
    // the MVA count is of row occurrences: a row holding 610 and 611 counts twice
    assert(cases(3)._3 === (0L until 1000L).map(rowsOf).map(_._5)
      .map(a => (a.toSet & Set(10L, 610L, 611L)).size).sum)
  }

  test("after appendSegment, deleteKeys and compactManifest, lookups and counts equal an unregistered copy") {
    val fact = tmp.resolve("life").toString
    val idx = tmp.resolve("life_idx").toString
    val all = (0L until 400L).map(i => (i, i % 30)).toDF("id", "v")
    Writer.write(all.filter($"id" < 300L), fact, sortBy = Seq("id"))
    SecondaryIndex.build(read(fact), "v", "id", idx)
    def check(copy: String): Unit = {
      val vs = Seq(3L, 7L)
      val df = SecondaryIndex.semiJoin(read(fact), "id",
        SecondaryIndex.lookupKeys(SparkT.spark, idx, vs))
      assert(sorted(df) === sorted(read(copy).filter($"v".isin(vs: _*))))
      assert(lookups(df).map(_.metrics("resident").value) === Seq(1L))
      assert(SecondaryIndex.calcCount(SparkT.spark, idx, vs) ===
        read(copy).filter($"v".isin(vs: _*)).count())
      assert(SecondaryIndex.calcCountRange(SparkT.spark, idx, Some(10L),
        Some(20L)) === read(copy).filter($"v".between(10L, 20L)).count())
      assert(SecondaryIndex.calcCountNotNull(SparkT.spark, idx) ===
        read(copy).count())
    }
    def copyOf(rows: DataFrame, name: String): String = {
      val p = tmp.resolve(name).toString
      Writer.write(rows, p, sortBy = Seq("id"))
      p
    }
    check(copyOf(all.filter($"id" < 300L), "life_copy0"))
    all.filter($"id" >= 300L).write.mode("append").parquet(fact)
    SecondaryIndex.appendSegment(all.filter($"id" >= 300L), "v", "id", idx)
    check(copyOf(all, "life_copy1"))
    // the fact keeps the deleted rows; the index no longer posts them
    SecondaryIndex.deleteKeys(SparkT.spark, idx,
      all.filter($"id" % 4 === 0L), "id")
    val kept = copyOf(all.filter($"id" % 4 =!= 0L), "life_copy2")
    check(kept)
    SecondaryIndex.compactManifest(SparkT.spark, idx)
    check(kept)
  }

  test("under a tiny result budget a postings table past it keeps the job path, and held rows make room by evicting the oldest") {
    // at 240k, the budget is 61,440 bytes: each 500-value index's held
    // rows (all six postings columns) take 42,000 bytes, and the
    // 2,000-key lookup postings 92,000
    def index(name: String, n: Long, per: Long): String = {
      val p = tmp.resolve(name).toString
      SecondaryIndex.build(SparkT.spark.range(0L, n)
        .select($"id", ($"id" / per).cast("long").as("v")), "v", "id", p)
      p
    }
    val (a, c) = (index("held_a", 500L, 1L), index("held_c", 500L, 1L))
    val big = index("held_big", 2000L, 2L)
    val fact = tmp.resolve("held_fact").toString
    Writer.write(SparkT.spark.range(0L, 2000L).toDF("id"), fact, sortBy = Seq("id"))
    def count(idx: String) = SecondaryIndex.calcCount(SparkT.spark, idx, Seq(7L))
    org.apache.spark.GraftTestConf.withConf(SparkT.spark.sparkContext,
        "spark.driver.maxResultSize", "240k") {
      val df = SecondaryIndex.semiJoin(read(fact), "id",
        SecondaryIndex.lookupKeys(SparkT.spark, big, Seq(7L, 900L)))
      assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(14L, 15L, 1800L, 1801L))
      assert(lookups(df).map(_.metrics("resident").value) === Seq(0L))
      val (n, bigJobs) = jobs(count(big))
      assert(n === 2L && bigJobs > 0)
      assert(count(a) === 1L) // reads a's rows in
      assert(jobs(count(a)) === ((1L, 0)))
      assert(count(c) === 1L) // c's rows make room: a's go
      assert(jobs(count(c)) === ((1L, 0)))
      // a's rows are not read in again at this budget, so c's stay held
      for (_ <- 0 until 2) assert(jobs(count(a)) match { case (n, j) => n == 1L && j > 0 })
      assert(jobs(count(c)) === ((1L, 0)))
    }
  }

  test("the lookup leaf posts its keys, rows scanned, rows returned and fallback as SQL metrics") {
    val df = read(base).filter($"v".isin(10L, 20L, 30L)).select($"id")
    assert(df.collect().map(_.getLong(0)).toSet ===
      Set(20L, 21L, 40L, 41L, 60L, 61L))
    val leaf = lookups(df)
    assert(leaf.size === 1)
    val m = leaf.head.metrics.map { case (k, v) => k -> v.value }
    assert(m === Map("keys" -> 6L, "scanned" -> 1000L, "returned" -> 6L,
      "fallback" -> 0L, "resident" -> 1L))
  }

  test("past the key budget the co-grouped fetch returns the in-budget rows") {
    val shapes = Seq(
      read(base).filter($"v".between(10L, 25L)).select($"id", $"v"),
      read(base).filter(array_contains($"arr", 610L) && $"x" =!= 21L),
      window(read(base), Seq(10L, 11L, 300L), 0L, 30L))
    for (df <- shapes) {
      val exec = lookups(df).head
      def ids(budget: Long) =
        exec.rows(budget).map(_.getLong(0)).collect().sorted.toSeq
      val whole = ids(PostingsLookupExec.keyBudget(SparkT.spark.sparkContext))
      assert(exec.metrics("fallback").value === 0L)
      assert(whole.nonEmpty)
      assert(ids(0L) === whole, df.queryExecution.executedPlan.toString)
      assert(exec.metrics("fallback").value === 1L)
    }
  }

  test("over its share of the key budget a task sends no keys: the lookup falls back within spark.driver.maxResultSize") {
    // 600,000 keys under one value, in 16 postings files read as at least
    // 16 tasks; the fact holds 100 of them. At a 512 KB result limit the
    // budget is 16,384 keys — at most 1,024 a task — so every task holding
    // keys overflows and sends none, where 16 tasks of 16,385 keys each
    // would send 2 MB.
    val fact = tmp.resolve("wide").toString
    val idx = tmp.resolve("wide_idx").toString
    SecondaryIndex.build(SparkT.spark.range(0L, 600000L)
      .select($"id", lit(1L).as("v")), "v", "id", idx, files = 16)
    Writer.write((0L until 100L).map(i => (i * 6000L, i)).toDF("id", "x"),
      fact, sortBy = Seq("id"))
    val sql = SparkT.spark.conf
    sql.set("spark.sql.files.maxPartitionBytes", "64k")
    val ids = try org.apache.spark.GraftTestConf.withConf(
        SparkT.spark.sparkContext, "spark.driver.maxResultSize", "512k") {
      val df = SecondaryIndex.semiJoin(read(fact), "id",
        SecondaryIndex.lookupKeys(SparkT.spark, idx, Seq(1L)))
      val out = df.collect().map(_.getLong(0)).sorted.toSeq
      val leaf = lookups(df)
      assert(leaf.size === 1, df.queryExecution.executedPlan.toString)
      assert(leaf.head.postings.scan.getNumPartitions >= 16)
      assert(leaf.head.metrics("fallback").value === 1L)
      out
    } finally sql.unset("spark.sql.files.maxPartitionBytes")
    assert(ids === (0L until 100L).map(_ * 6000L))
  }

  test("a lookup planned before writes to its dirs reads the files its plan checked") {
    val fact = tmp.resolve("rerun").toString
    val idx = tmp.resolve("rerun_idx").toString
    val all = (0L until 200L).map(i => (i, i / 2)).toDF("id", "v")
    Writer.write(all.filter($"id" < 100L), fact, sortBy = Seq("id"))
    SecondaryIndex.build(all.filter($"id" < 100L), "v", "id", idx)
    def lookup(f: DataFrame) = SecondaryIndex.semiJoin(f, "id",
      SecondaryIndex.lookupKeys(SparkT.spark, idx, Seq(10L, 60L)))
    def unrouted(f: DataFrame) = f.filter($"v".isin(10L, 60L))
    val (df, plain) = (lookup(read(fact)), unrouted(read(fact)))
    assert(lookups(df).size === 1) // planned, not yet run
    assert(lookups(plain).isEmpty)
    // rows of v = 60 land in both the fact and the index
    all.filter($"id" >= 100L).write.mode("append").parquet(fact)
    SecondaryIndex.appendSegment(all.filter($"id" >= 100L), "v", "id", idx)
    assert(sorted(df) === Seq("[20,10]", "[21,10]"))
    assert(sorted(df) === sorted(plain))
    assert(sorted(lookup(read(fact))) === sorted(unrouted(read(fact))))
    assert(sorted(unrouted(read(fact))).size === 4)
  }

  test("postings past the pushed-scan size push their conditions into the scan: the same rows") {
    val shapes = Seq(
      read(base).filter($"v".between(10L, 25L)).select($"id", $"v"),
      read(base).filter(array_contains($"arr", 610L) && $"x" =!= 21L),
      window(read(base), Seq(10L, 11L, 300L), 0L, 30L))
    for (df <- shapes) {
      val join = df.queryExecution.optimizedPlan.collectFirst {
        case j: Join if j.joinType == LeftSemi => j
      }.get
      val memo = PostingsLookupExec.plan(join).get
      val pushed = PostingsLookupExec.plan(join, pushedBytes = 0L).get
      assert(memo.postings.pushed.isEmpty)
      assert(pushed.postings.pushed.isDefined)
      def ids(e: PostingsLookupExec) =
        e.rows().map(_.getLong(0)).collect().sorted.toSeq
      assert(ids(pushed) === ids(memo), join.toString)
      assert(ids(memo).nonEmpty)
    }
  }

  test("same rows, same files: a DataFrame read before a later write of its dir keeps the join") {
    val fact = tmp.resolve("grown").toString
    val idx = tmp.resolve("grown_idx").toString
    val all = (0L until 200L).map(i => (i, i / 2)).toDF("id", "v")
    Writer.write(all.filter($"id" < 100L), fact, sortBy = Seq("id"))
    SecondaryIndex.build(all, "v", "id", idx)
    def lookup(f: DataFrame) = SecondaryIndex.semiJoin(f, "id",
      SecondaryIndex.lookupKeys(SparkT.spark, idx, Seq(10L, 60L)))
    val before = read(fact)
    assert(sorted(lookup(before)) === Seq("[20,10]", "[21,10]"))
    all.filter($"id" >= 100L).write.mode("append").parquet(fact)
    // the memoized scan of the dir now lists the appended file too
    val stale = lookup(before)
    assert(lookups(stale).isEmpty, stale.queryExecution.executedPlan.toString)
    assert(sorted(stale) === Seq("[20,10]", "[21,10]"))
    val fresh = lookup(read(fact))
    assert(lookups(fresh).size === 1)
    assert(sorted(fresh) === Seq("[120,60]", "[121,60]", "[20,10]", "[21,10]"))
  }

  test("cross-index OR unions and sorted retrieval keep their join plans") {
    object Aqe extends AdaptiveSparkPlanHelper
    def leaves(df: DataFrame): (Int, SparkPlan) = {
      assert(df.queryExecution.optimizedPlan.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      }, df.queryExecution.optimizedPlan.toString)
      df.collect()
      val plan = df.queryExecution.executedPlan
      (Aqe.collect(plan) { case e: PostingsLookupExec => e }.size, plan)
    }
    // the OR of two indexes unions their key streams under one aggregate
    val or = read(base).filter($"v" === 10L || $"d" === 100.0)
    assert(sorted(or) === sorted(read(copy)
      .filter($"v" === 10L || $"d" === 100.0)))
    val (n, plan) = leaves(or)
    assert(n === 0, plan.toString)
    // a value-ordered postings prefix is no plain key stream
    val top = read(base).orderBy($"v", $"id").limit(3)
    assert(leaves(top)._1 === 0)
    assert(top.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }
}
