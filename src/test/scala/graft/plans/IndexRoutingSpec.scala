package graft.plans

import graft.SparkT
import graft.index.SecondaryIndex
import graft.tables.Writer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Automatic secondary-index access-path routing (the reference host's
  * choice between secondary index and columnar analyzer,
  * columnar.cpp:649-675 + secondary.cpp:745-812): plain filter()/count()
  * over a registered table routes through the postings when the estimate
  * says selective, and stays on the pushdown scan when it doesn't — both
  * plan shapes pinned here, with results equal either way. */
class IndexRoutingSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  // id unique (the rowid contract); v high-ndv (500), w low-ndv (5 strings),
  // x an unindexed residual column.
  private lazy val (baseDir: String, idxVDir: String) = {
    val tmp = Files.createTempDirectory("graft-idxroute")
    val base = tmp.resolve("base").toString
    val idxV = tmp.resolve("idxv").toString
    val idxW = tmp.resolve("idxw").toString
    val df = (0L until 1000L).map(i => (i, i / 2, (i % 5).toString, i % 100))
      .toDF("id", "v", "w", "x")
    Writer.write(df, base, sortBy = Seq("id"))
    val rd = SparkT.spark.read.parquet(base)
    SecondaryIndex.build(rd, "v", "id", idxV)
    SecondaryIndex.build(rd, "w", "id", idxW)
    IndexRouting.register(SparkT.spark, base, idxV, "v", "id")
    IndexRouting.register(SparkT.spark, base, idxW, "w", "id")
    (base, idxV)
  }

  private def base: DataFrame = SparkT.spark.read.parquet(baseDir)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def semiJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j
    }.size

  private def innerJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
    }.size

  test("selective equality routes: postings semi-join, correct rows") {
    val df = base.filter($"v" === 10L).select($"id", $"v")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(scanPaths(df).exists(_.contains("idxv")))
    assert(df.as[(Long, Long)].collect().toSet === Set((20L, 10L), (21L, 10L)))
  }

  test("selective IN-list and narrow range route; results match brute force") {
    val in = base.filter($"v".isin(3L, 7L)).select($"id")
    assert(semiJoins(in) == 1)
    assert(in.as[Long].collect().toSet === Set(6L, 7L, 14L, 15L))

    val rng = base.filter($"v" >= 10L && $"v" <= 14L).select($"id")
    assert(semiJoins(rng) == 1, rng.queryExecution.optimizedPlan.toString)
    assert(rng.as[Long].collect().toSet === (20L to 29L).toSet)
  }

  test("non-selective predicates stay on the pushdown scan (the gate's other end)") {
    // low-ndv equality: 1/5 = 0.2 > threshold 0.1
    val w = base.filter($"w" === "3").select($"id")
    assert(semiJoins(w) == 0, w.queryExecution.optimizedPlan.toString)
    assert(!scanPaths(w).exists(_.contains("idxw")))
    // broad range: span fraction ~0.98
    val broad = base.filter($"v" >= 5L).select($"id")
    assert(semiJoins(broad) == 0)
    assert(broad.count() === 990)
  }

  test("plain count() lowers to the index-only sum(cnt): no fact scan at all") {
    val cnt = base.filter($"v" === 10L).agg(count(lit(1)).as("cnt"))
    val paths = scanPaths(cnt)
    assert(paths.exists(_.contains("idxv")), cnt.queryExecution.optimizedPlan.toString)
    assert(!paths.exists(_.contains("base")), s"fact table still scanned: $paths")
    assert(cnt.as[Long].head() === 2L)
    // range-shaped count takes the same short-circuit
    val rcnt = base.filter($"v" >= 10L && $"v" < 13L).agg(count(lit(1)).as("cnt"))
    assert(!scanPaths(rcnt).exists(_.contains("base")))
    assert(rcnt.as[Long].head() === 6L)
  }

  test("residual conjuncts survive as a filter above the semi-join") {
    val df = base.filter($"v" === 10L && $"x" > 20L).select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(df.as[Long].collect().toSeq === Seq(21L))
    // count with a residual cannot take the index-only path — but the
    // filter route still applies underneath, and the count stays correct
    val cnt = base.filter($"v" === 10L && $"x" > 20L).agg(count(lit(1)).as("cnt"))
    assert(scanPaths(cnt).exists(_.contains("base")))
    assert(cnt.as[Long].head() === 1L)
  }

  test("unregistered tables and unindexed columns never route") {
    val tmp = Files.createTempDirectory("graft-idxroute2").resolve("t").toString
    Writer.write((0L until 100L).map(i => (i, i / 2)).toDF("id", "v"), tmp,
      sortBy = Seq("id"))
    val un = SparkT.spark.read.parquet(tmp).filter($"v" === 10L)
    assert(semiJoins(un) == 0)
    val x = base.filter($"x" === 3L)
    assert(semiJoins(x) == 0)
  }

  test("groupBy(indexed col).count() lowers to the index-only facet") {
    val facet = base.groupBy($"v").agg(count(lit(1)).as("n"))
    val paths = scanPaths(facet)
    assert(paths.exists(_.contains("idxv")),
      facet.queryExecution.optimizedPlan.toString)
    assert(!paths.exists(_.contains("base")), s"fact table scanned: $paths")
    val got = facet.as[(Long, Long)].collect().toMap
    assert(got === (0L until 500L).map(_ -> 2L).toMap)
    // filtered facet: the (servable) filter rides on the index scan
    val ff = base.filter($"v" < 3L).groupBy($"v").agg(count(lit(1)).as("n"))
    assert(!scanPaths(ff).exists(_.contains("base")))
    assert(ff.as[(Long, Long)].collect().toMap ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // unindexed group column: untouched
    val ux = base.groupBy($"x").agg(count(lit(1)).as("n"))
    assert(scanPaths(ux).exists(_.contains("base")))
    assert(ux.count() === 100)
  }

  test("MVA index routes array_contains / arrays_overlap, never the count path") {
    val tmp = Files.createTempDirectory("graft-idxroute-mva")
    val mbase = tmp.resolve("mbase").toString
    val midx = tmp.resolve("midx").toString
    val rows = (0L until 1000L).map(i => (i, Seq(i / 2, i / 2 + 600)))
    Writer.write(rows.toDF("id", "arr"), mbase, sortBy = Seq("id"))
    SecondaryIndex.buildMva(SparkT.spark.read.parquet(mbase), "arr", "id", midx)
    IndexRouting.register(SparkT.spark, mbase, midx, "arr", "id", mva = true)

    val mdf = SparkT.spark.read.parquet(mbase)
    val c = mdf.filter(array_contains($"arr", 10L)).select($"id")
    assert(semiJoins(c) == 1, c.queryExecution.optimizedPlan.toString)
    assert(c.as[Long].collect().toSet === Set(20L, 21L))
    // overlap: keys may repeat across the two matched elements — the
    // semi-join dedups (element 10 and 610 share rows 20/21)
    val o = mdf.filter(arrays_overlap($"arr", typedlit(Seq(10L, 610L, 11L))))
      .select($"id")
    assert(semiJoins(o) == 1, o.queryExecution.optimizedPlan.toString)
    assert(o.as[Long].collect().toSet === Set(20L, 21L, 22L, 23L))
    // ALL-shaped predicates are not servable from element postings
    val all = mdf.filter(forall($"arr", e => e > 100L))
    assert(semiJoins(all) == 0)
    // the count path never uses an MVA index (sum(cnt) counts element
    // occurrences, not rows) — but the semi-join route underneath is fine
    val cnt = mdf.filter(array_contains($"arr", 10L)).agg(count(lit(1)).as("n"))
    assert(scanPaths(cnt).exists(_.contains("mbase")))
    assert(cnt.as[Long].head() === 2L)
  }

  test("routed semi-join plans the postings lookup: no shuffle of fact rows") {
    // the keys are collected in one job over the postings and the fact
    // rows are kept where they are read — the fact table is neither
    // shuffled nor sorted, and no key set is broadcast
    val df = base.filter($"v" === 10L).select($"id")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PostingsLookup"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin"), plan)
  }

  test("threshold config moves the gate") {
    val conf = SparkT.spark.conf
    conf.set("spark.graft.index.routeThreshold", "0.5")
    try {
      val w = base.filter($"w" === "3").select($"id")
      assert(semiJoins(w) == 1, "0.2 <= 0.5 should route now")
      assert(w.count() === 200)
    } finally conf.unset("spark.graft.index.routeThreshold")
  }

  test("ANDed MVA conjuncts never share one postings filter (review r9)") {
    // value=10 AND value=610 on one postings row is unsatisfiable even when
    // a row's SET holds both — each conjunct must route separately (the
    // residual re-enters the rule on the next fixpoint pass, yielding a
    // CASCADE of semi-joins: the intersection of two postings lookups),
    // never be ANDed into a single postings filter.
    val tmp = Files.createTempDirectory("graft-idxroute-mvaand")
    val mbase = tmp.resolve("mb").toString
    val midx = tmp.resolve("mi").toString
    val rows = (0L until 1000L).map(i => (i, Seq(i / 2, i / 2 + 600)))
    Writer.write(rows.toDF("id", "arr"), mbase, sortBy = Seq("id"))
    SecondaryIndex.buildMva(SparkT.spark.read.parquet(mbase), "arr", "id", midx)
    IndexRouting.register(SparkT.spark, mbase, midx, "arr", "id", mva = true)
    val mdf = SparkT.spark.read.parquet(mbase)
    val both = mdf.filter(array_contains($"arr", 10L) &&
      array_contains($"arr", 610L)).select($"id")
    assert(both.as[Long].collect().toSet === Set(20L, 21L),
      both.queryExecution.optimizedPlan.toString)
    assert(semiJoins(both) == 2, both.queryExecution.optimizedPlan.toString)
    // mixed shapes too: overlap AND contains
    val mixed = mdf.filter(arrays_overlap($"arr", typedlit(Seq(10L, 11L))) &&
      array_contains($"arr", 610L)).select($"id")
    assert(mixed.as[Long].collect().toSet === Set(20L, 21L))
  }

  test("string equality routes through the hash companion's index (r10-3)") {
    // HashCompanionRule earns `s__hash = H` next to the string predicate;
    // the companion-column index serves the hash conjunct (this rule runs
    // after it in the same batch) and the string equality rides residual
    // on the semi-joined rows — the reference's STRINGS secondary index
    // (hash postings + string re-check) from one plain filter().
    val tmp = Files.createTempDirectory("graft-idxroute-hash")
    val hbase = tmp.resolve("hb").toString
    val hidx = tmp.resolve("hidx").toString
    val rows = (0L until 1000L).map(i => (i, "s%04d".format(i % 500)))
    Writer.write(rows.toDF("id", "s"), hbase, sortBy = Seq("id"),
      hashCompanions = Seq("s"))
    val hashCol = "s" + graft.tables.Writer.HashSuffix
    SecondaryIndex.build(SparkT.spark.read.parquet(hbase), hashCol, "id", hidx)
    IndexRouting.register(SparkT.spark, hbase, hidx, hashCol, "id")
    try {
      val df = SparkT.spark.read.parquet(hbase)
        .filter($"s" === "s0010").select($"id")
      assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
      assert(scanPaths(df).exists(_.contains("hidx")),
        df.queryExecution.optimizedPlan.toString)
      // the string predicate survives as the collision residual
      assert(df.queryExecution.optimizedPlan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.exists {
            case l: org.apache.spark.sql.catalyst.expressions.Literal =>
              l.value != null && l.value.toString == "s0010"
            case _ => false
          }
        case _ => false
      }, df.queryExecution.optimizedPlan.toString)
      assert(df.as[Long].collect().toSet === Set(10L, 510L))
    } finally IndexRouting.unregister(SparkT.spark, hbase)
  }

  test("routing composes under joins and below sort/limit (r10)") {
    // (a) pushdown leaves the servable filter beside the relation INSIDE a
    // join — the route fires there exactly as at top level (the reference
    // host consumes per-table filters before its own join stage)
    val dim = Seq(("0", "zero"), ("1", "one")).toDF("wk", "wname")
    val j = base.filter($"v" === 10L).join(dim, $"w" === $"wk")
      .select($"id", $"wname")
    assert(semiJoins(j) == 1, j.queryExecution.optimizedPlan.toString)
    assert(scanPaths(j).exists(_.contains("idxv")),
      j.queryExecution.optimizedPlan.toString)
    assert(j.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((20L, "zero"), (21L, "one")))
    // (b) facet top-k: GROUP BY indexed col + count with Sort/Limit above
    // lowers to the index-only facet under an untouched TakeOrdered — the
    // fact table is never scanned
    val fk = base.groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w".asc).limit(3)
    assert(!scanPaths(fk).exists(_.contains("base")),
      fk.queryExecution.optimizedPlan.toString)
    assert(scanPaths(fk).exists(_.contains("idxw")))
    assert(fk.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("0", 200L), ("1", 200L), ("2", 200L)))
  }

  test("MVA side inside a multi-index intersection dedups its key stream (r10)") {
    // arrays_overlap posts a key once per MATCHED ELEMENT (here i%4==3
    // rows match both 3 and 603), so the intersection's inner join must
    // see a deduped stream — and the dedup must be the aggregate form
    // (a logical Distinct emitted after its lowering batch has run would
    // die in the planner with INTERNAL_ERROR, review r10-2).
    val tmp = Files.createTempDirectory("graft-idxroute-mvaisect")
    val mbase = tmp.resolve("mb").toString
    val midxA = tmp.resolve("ma").toString
    val midxV = tmp.resolve("mv").toString
    val rows = (0L until 1000L).map(i => (i, Seq(i % 4, 600 + i % 4), i / 2))
    Writer.write(rows.toDF("id", "arr", "v"), mbase, sortBy = Seq("id"))
    SecondaryIndex.buildMva(SparkT.spark.read.parquet(mbase), "arr", "id", midxA)
    SecondaryIndex.build(SparkT.spark.read.parquet(mbase), "v", "id", midxV)
    IndexRouting.register(SparkT.spark, mbase, midxA, "arr", "id", mva = true)
    IndexRouting.register(SparkT.spark, mbase, midxV, "v", "id")
    val mdf = SparkT.spark.read.parquet(mbase)
    // overlap est 2/8 = 0.25, v-range est ~0.28: neither clears 0.1 alone,
    // the product 0.07 does → intersection with the MVA stream deduped
    val df = mdf.filter(arrays_overlap($"arr", typedlit(Seq(3L, 603L))) &&
      $"v" >= 100L && $"v" <= 240L).select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(innerJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(df.queryExecution.optimizedPlan.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.size == 1
      case _ => false
    }, df.queryExecution.optimizedPlan.toString)
    val want = (0L until 1000L)
      .filter(i => i % 4 == 3 && i / 2 >= 100 && i / 2 <= 240).toSet
    assert(df.as[Long].collect().toSet === want)
  }

  test("clustered base table: filter route stands down, index-only count still fires") {
    // base written VALUE-clustered across 4 files: the pushdown scan
    // already prunes, so the semi-join detour must not replace it — but
    // count/facet/distinct still skip the fact scan entirely.
    val tmp = Files.createTempDirectory("graft-idxroute-clust")
    val cbase = tmp.resolve("cb").toString
    val cidx = tmp.resolve("ci").toString
    val rows = (0L until 4000L).map(i => (i, i % 1000, i % 7))
    Writer.write(rows.toDF("id", "v", "x"), cbase, sortBy = Seq("v"), files = 4)
    SecondaryIndex.build(SparkT.spark.read.parquet(cbase), "v", "id", cidx)
    IndexRouting.register(SparkT.spark, cbase, cidx, "v", "id")
    val cdf = SparkT.spark.read.parquet(cbase)
    val f = cdf.filter($"v" === 10L).select($"id")
    assert(semiJoins(f) == 0, f.queryExecution.optimizedPlan.toString)
    assert(f.as[Long].collect().toSet === Set(10L, 1010L, 2010L, 3010L))
    val cnt = cdf.filter($"v" === 10L).agg(count(lit(1)).as("n"))
    assert(!scanPaths(cnt).exists(_.contains("cb")),
      cnt.queryExecution.optimizedPlan.toString)
    assert(cnt.as[Long].head() === 4L)

    // STRING sort key: row-group stats compare ordinally, so the
    // stand-down fires for string-clustered tables too (review r9)
    val sbase = tmp.resolve("sb").toString
    val sidx = tmp.resolve("si").toString
    val srows = (0L until 4000L).map(i => (i, "k%04d".format(i % 1000)))
    Writer.write(srows.toDF("id", "s"), sbase, sortBy = Seq("s"), files = 4)
    SecondaryIndex.build(SparkT.spark.read.parquet(sbase), "s", "id", sidx)
    IndexRouting.register(SparkT.spark, sbase, sidx, "s", "id")
    // ndv 1000 → est 0.001, far under the gate — only the clustered
    // stand-down keeps this on the (already-pruned) scan
    val sf = SparkT.spark.read.parquet(sbase)
      .filter($"s" === "k0010").select($"id")
    assert(semiJoins(sf) == 0, sf.queryExecution.optimizedPlan.toString)
    assert(sf.as[Long].collect().toSet ===
      Set(10L, 1010L, 2010L, 3010L))
  }

  test("index maintenance invalidates routing; re-registration resumes it (review r9)") {
    val tmp = Files.createTempDirectory("graft-idxroute-inval")
    val ibase = tmp.resolve("ib").toString
    val iidx = tmp.resolve("ii").toString
    val r1 = (0L until 1000L).map(i => (i, i % 500))
    Writer.write(r1.toDF("id", "v"), ibase, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(ibase), "v", "id", iidx)
    IndexRouting.register(SparkT.spark, ibase, iidx, "v", "id")
    def q = SparkT.spark.read.parquet(ibase).filter($"v" === 10L).select($"id")
    assert(semiJoins(q) == 1)
    assert(q.as[Long].collect().toSet === Set(10L, 510L))
    // grow the FACT table and append the matching index segment: the
    // cached routing entry froze the old file listing, so the append must
    // drop it — queries fall back to the (always-correct) scan
    val r2 = (1000L until 1200L).map(i => (i, i % 500))
    r2.toDF("id", "v").write.mode("append").parquet(ibase)
    SecondaryIndex.appendSegment(r2.toDF("id", "v"), "v", "id", iidx)
    assert(semiJoins(q) == 0, "stale routing entry survived an append")
    assert(q.as[Long].collect().toSet === Set(10L, 510L, 1010L))
    // re-registration snapshots the grown index and resumes routing
    IndexRouting.register(SparkT.spark, ibase, iidx, "v", "id")
    assert(semiJoins(q) == 1)
    assert(q.as[Long].collect().toSet === Set(10L, 510L, 1010L))
    // invalidation matches QUALIFIED paths: a different spelling of the
    // same dir ("file:" scheme) must still drop the entry (review r9)
    IndexRouting.onIndexMutated(SparkT.spark, "file:" + iidx)
    assert(semiJoins(q) == 0, "spelling variant skipped invalidation")
    IndexRouting.register(SparkT.spark, ibase, iidx, "v", "id")
    assert(semiJoins(q) == 1)
  }

  test("reregisterDropped replays maintenance-invalidated registrations (r12)") {
    val tmp = Files.createTempDirectory("graft-idxroute-rereg")
    val rbase = tmp.resolve("rb").toString
    val ridx = tmp.resolve("ri").toString
    val r1 = (0L until 1000L).map(i => (i, i % 500))
    Writer.write(r1.toDF("id", "v"), rbase, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(rbase), "v", "id", ridx)
    IndexRouting.register(SparkT.spark, rbase, ridx, "v", "id")
    def q = SparkT.spark.read.parquet(rbase).filter($"v" === 10L).select($"id")
    try {
      assert(semiJoins(q) == 1)
      // ingest batch: fact + index segment append → entry dropped
      val r2 = (1000L until 1200L).map(i => (i, i % 500))
      r2.toDF("id", "v").write.mode("append").parquet(rbase)
      SecondaryIndex.appendSegment(r2.toDF("id", "v"), "v", "id", ridx)
      assert(semiJoins(q) == 0)
      // the reference-daemon behavior: one metadata-only call resumes
      // routing with stats re-derived from the live files — no caller-side
      // bookkeeping of (base, index, columns)
      IndexRouting.reregisterDropped(SparkT.spark)
      assert(semiJoins(q) == 1)
      assert(q.as[Long].collect().toSet === Set(10L, 510L, 1010L))
      // idempotent when nothing is pending
      IndexRouting.reregisterDropped(SparkT.spark)
      assert(semiJoins(q) == 1)
      // a second maintenance round drops and replays again (the per-batch
      // streaming-ingest loop shape)
      val r3 = (1200L until 1300L).map(i => (i, i % 500))
      r3.toDF("id", "v").write.mode("append").parquet(rbase)
      SecondaryIndex.appendSegment(r3.toDF("id", "v"), "v", "id", ridx)
      assert(semiJoins(q) == 0)
      IndexRouting.reregisterDropped(SparkT.spark)
      assert(semiJoins(q) == 1)
      // r3's ids (1200-1299) all hash to v in 200-299 — no new v=10 row
      assert(q.as[Long].collect().toSet === Set(10L, 510L, 1010L))
    } finally IndexRouting.unregister(SparkT.spark, rbase)
  }

  test("registration resolves manifest-managed indexes (review r9)") {
    val tmp = Files.createTempDirectory("graft-idxroute-manif")
    val mbase = tmp.resolve("fb").toString
    val midx = tmp.resolve("fi").toString
    val rows = (0L until 1000L).map(i => (i, i % 500))
    Writer.write(rows.toDF("id", "v"), mbase, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(mbase), "v", "id", midx)
    // migrate to the manifest scheme: live data now in <midx>__g1, base
    // dir deleted — registration must read through resolve()
    SecondaryIndex.compactManifest(SparkT.spark, midx)
    IndexRouting.register(SparkT.spark, mbase, midx, "v", "id")
    val q = SparkT.spark.read.parquet(mbase).filter($"v" === 7L).select($"id")
    assert(semiJoins(q) == 1, q.queryExecution.optimizedPlan.toString)
    assert(q.as[Long].collect().toSet === Set(7L, 507L))
  }

  test("multi-index intersection: neither side routes alone, the product does (r10)") {
    // w equality: 1/5 = 0.2 > threshold; v range [100, 240]: span ~0.28 >
    // threshold — but the PRODUCT 0.056 clears the gate, so BOTH postings
    // streams are consumed, inner-joined, and the fact table probed ONCE
    // (the reference host intersects every eligible filter's rowid stream,
    // columnar.cpp:721-746 + iterator.cpp:102-143)
    val df = base.filter($"w" === "3" && $"v" >= 100L && $"v" <= 240L)
      .select($"id")
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("idxv")) && paths.exists(_.contains("idxw")),
      df.queryExecution.optimizedPlan.toString)
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(innerJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    val want = (0L until 1000L)
      .filter(i => i % 5 == 3 && i / 2 >= 100 && i / 2 <= 240).toSet
    assert(df.as[Long].collect().toSet === want)

    // single-index fallback: when the primary clears the gate alone, the
    // second index is NOT consulted — its predicate evaluates as a free
    // residual on the few semi-joined rows
    val single = base.filter($"v" === 10L && $"w" === "3").select($"id")
    assert(semiJoins(single) == 1)
    assert(!scanPaths(single).exists(_.contains("idxw")),
      single.queryExecution.optimizedPlan.toString)
    assert(single.as[Long].collect().toSet ===
      Set(20L, 21L).filter(_ % 5 == 3))

    // broad-side fallback: a side above multiSideCap never participates,
    // and with only one candidate left (0.2 > threshold) nothing routes
    val broad = base.filter($"w" === "3" && $"v" >= 5L).select($"id")
    assert(semiJoins(broad) == 0, broad.queryExecution.optimizedPlan.toString)
    assert(broad.count() ===
      (0L until 1000L).count(i => i % 5 == 3 && i / 2 >= 5).toLong)
  }

  test("OR of servable shapes routes as one postings filter (r10)") {
    // point OR range on the same column: one index pass (the reference's
    // bitmap union, secondary/blockreader.cpp:563-598)
    val df = base.filter($"v" === 300L || ($"v" >= 10L && $"v" <= 14L))
      .select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(scanPaths(df).exists(_.contains("idxv")))
    val want = (0L until 1000L)
      .filter(i => i / 2 == 300 || (i / 2 >= 10 && i / 2 <= 14)).toSet
    assert(df.as[Long].collect().toSet === want)

    // a broad branch drags the union estimate over the gate: bypass
    val broad = base.filter($"v" === 300L || $"v" >= 100L).select($"id")
    assert(semiJoins(broad) == 0, broad.queryExecution.optimizedPlan.toString)
    assert(broad.count() ===
      (0L until 1000L).count(i => i / 2 == 300 || i / 2 >= 100).toLong)
  }

  test("cross-index OR unions the per-branch key streams (r10)") {
    // v = 300 (est 0.002, idxv) OR w = "3" (est 0.2, idxw): the branch sum
    // 0.202 clears a 0.25 gate — the route unions BOTH postings key
    // streams (the reference's rowid-bitmap union across filter
    // iterators) and probes the fact table ONCE with no intersection join
    SparkT.spark.conf.set("spark.graft.index.routeThreshold", "0.25")
    try {
      val df = base.filter($"v" === 300L || $"w" === "3").select($"id")
      val paths = scanPaths(df)
      assert(paths.exists(_.contains("idxv")) && paths.exists(_.contains("idxw")),
        df.queryExecution.optimizedPlan.toString)
      assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
      assert(innerJoins(df) == 0, df.queryExecution.optimizedPlan.toString)
      // the union dedups before the probe (a row matching both branches
      // must not need the semi-join's tolerance — the bitmap is a set)
      assert(df.queryExecution.optimizedPlan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Distinct => true
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
        case _ => false
      }, df.queryExecution.optimizedPlan.toString)
      val want = (0L until 1000L).filter(i => i / 2 == 300 || i % 5 == 3).toSet
      assert(df.as[Long].collect().toSet === want)
      // a branch no index serves refuses the union (never a partial prune)
      val part = base.filter($"v" === 300L || $"id" === 7L).select($"id")
      assert(semiJoins(part) == 0, part.queryExecution.optimizedPlan.toString)
      // CalcCount over the union: COUNT(*) of the deduped key streams —
      // the fact table is never scanned (bitmap popcount, r10)
      val cnt = base.filter($"v" === 300L || $"w" === "3")
        .agg(count(lit(1)).as("n"))
      assert(!scanPaths(cnt).exists(_.contains("base")),
        cnt.queryExecution.optimizedPlan.toString)
      assert(cnt.as[Long].head() === want.size.toLong)
    } finally SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
    // default 0.1 gate: the same disjunction's branch sum 0.202 bypasses —
    // the estimate is the SUM, never the min
    val broad = base.filter($"v" === 300L || $"w" === "3").select($"id")
    assert(semiJoins(broad) == 0, broad.queryExecution.optimizedPlan.toString)
    assert(broad.count() ===
      (0L until 1000L).count(i => i / 2 == 300 || i % 5 == 3).toLong)
  }

  test("MVA element-range ANY routes through the element postings (r10)") {
    val tmp = Files.createTempDirectory("graft-idxroute-mvarange")
    val mbase = tmp.resolve("mb").toString
    val midx = tmp.resolve("mi").toString
    val rows = (0L until 1000L).map(i => (i, Seq(i / 2, i / 2 + 600)))
    Writer.write(rows.toDF("id", "arr"), mbase, sortBy = Seq("id"))
    SecondaryIndex.buildMva(SparkT.spark.read.parquet(mbase), "arr", "id", midx)
    IndexRouting.register(SparkT.spark, mbase, midx, "arr", "id", mva = true)
    val mdf = SparkT.spark.read.parquet(mbase)
    // narrow element range: exists(arr, 10 <= x <= 11) → postings filter
    // value BETWEEN 10 AND 11 (ref MvaAny_T range, accessormva.cpp:71-139)
    val df = mdf.filter(exists($"arr", x => x >= 10L && x <= 11L))
      .select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(df.as[Long].collect().toSet === Set(20L, 21L, 22L, 23L))
    // broad element range: span estimate over element bounds blocks it
    val broad = mdf.filter(exists($"arr", x => x >= 100L)).select($"id")
    assert(semiJoins(broad) == 0, broad.queryExecution.optimizedPlan.toString)
    assert(broad.count() ===
      rows.count(r => r._2.exists(_ >= 100L)).toLong)
    // a lambda touching an OUTER column is never servable
    val outer = mdf.filter(exists($"arr", x => x === $"id")).select($"id")
    assert(semiJoins(outer) == 0)
  }

  test("string BETWEEN routes through the equi-depth histogram (r10)") {
    val tmp = Files.createTempDirectory("graft-idxroute-hist")
    val hbase = tmp.resolve("hb").toString
    val hidx = tmp.resolve("hi").toString
    // id-sorted single file: s correlates with id but there is only one
    // row group, so the clustered stand-down has no pruning evidence
    val rows = (0L until 1000L).map(i => (i, "k%04d".format(i)))
    Writer.write(rows.toDF("id", "s"), hbase, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(hbase), "s", "id", hidx)
    IndexRouting.register(SparkT.spark, hbase, hidx, "s", "id")
    val hdf = SparkT.spark.read.parquet(hbase)
    // the numeric span seam cannot estimate a string range — only the
    // histogram routes this (merged-interval estimate ~2/32)
    val df = hdf.filter($"s" >= "k0100" && $"s" <= "k0149").select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(df.as[Long].collect().toSet === (100L to 149L).toSet)
    // broad string range: histogram rank difference ~0.9 → bypass
    val broad = hdf.filter($"s" >= "k0100").select($"id")
    assert(semiJoins(broad) == 0, broad.queryExecution.optimizedPlan.toString)
    assert(broad.count() === 900L)
  }

  test("NUMERIC skew: the histogram refuses a hot range the uniform span would route (r12)") {
    val tmp = Files.createTempDirectory("graft-idxroute-numskew")
    val nbase = tmp.resolve("nb").toString
    val nidx = tmp.resolve("ni").toString
    // zipfian-ish layout: values 0..99 are HOT (205 fact rows each, so each
    // spans 1-2 rowid chunks and posts multiple index rows — at scale a hot
    // value's index-row count tracks its chunk count ≈ its row count);
    // values 10000, 11000, …, 109000 are COLD singletons stretching the span
    val hot = (0L until 20500L).map(i => (i, i / 205L))
    val cold = (0L until 100L).map(k => (20500L + k, 10000L + k * 1000L))
    Writer.write((hot ++ cold).toDF("id", "v"), nbase, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(nbase), "v", "id", nidx)
    IndexRouting.register(SparkT.spark, nbase, nidx, "v", "id")
    try {
      val ndf = SparkT.spark.read.parquet(nbase)
      // hot range [0, 99]: 99.5% of fact rows. The uniform span says
      // 99/109000 ≈ 0.001 → would route a semi-join that keeps nearly the
      // whole table; the rank-based histogram reads it hot → stands down
      val hotRange = ndf.filter($"v" >= 0L && $"v" <= 99L).select($"id")
      assert(semiJoins(hotRange) == 0, hotRange.queryExecution.optimizedPlan.toString)
      assert(hotRange.count() === 20500L)
      // cold narrow range still routes, and exactly
      val coldRange = ndf.filter($"v" >= 50000L && $"v" <= 52000L).select($"id")
      assert(semiJoins(coldRange) == 1, coldRange.queryExecution.optimizedPlan.toString)
      assert(coldRange.as[Long].collect().toSet === Set(20540L, 20541L, 20542L))
      // a range DISJOINT from [vMin, vMax] keeps the exact-zero span
      // estimate (bounds are exact; the histogram's one-bucket padding
      // must not defeat it)
      val none = ndf.filter($"v" >= 200000L).select($"id")
      assert(semiJoins(none) == 1, none.queryExecution.optimizedPlan.toString)
      assert(none.count() === 0L)
    } finally IndexRouting.unregister(SparkT.spark, nbase)
  }

  test("post-append re-register re-derives the histogram: borderline route flips (r12)") {
    val tmp = Files.createTempDirectory("graft-idxroute-histdrift")
    val hbase = tmp.resolve("hb").toString
    val hidx = tmp.resolve("hi").toString
    val rows = (0L until 1000L).map(i => (i, "k%04d".format(i)))
    Writer.write(rows.toDF("id", "s"), hbase, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(hbase), "s", "id", hidx)
    IndexRouting.register(SparkT.spark, hbase, hidx, "s", "id")
    try {
      def hot = SparkT.spark.read.parquet(hbase)
        .filter($"s" >= "k0100" && $"s" <= "k0149").select($"id")
      // uniform distribution: the 50-value range estimates ~2/32 → routes
      assert(semiJoins(hot) == 1, hot.queryExecution.optimizedPlan.toString)
      assert(hot.count() === 50L)
      // heavy append traffic lands INSIDE the range: 9000 new rows over
      // the same 50 values (ids spread across many key-chunks, so the
      // index-row distribution shifts with the data distribution)
      val extra = (1000L until 10000L).map(i =>
        (i, "k%04d".format(100L + i % 50L)))
      extra.toDF("id", "s").write.mode("append").parquet(hbase)
      SecondaryIndex.appendSegment(extra.toDF("id", "s"), "s", "id", hidx)
      // the append invalidated the entry; re-registration re-derives ndv,
      // bounds AND the equi-depth histogram from the live files — the
      // formerly-borderline range now reads as hot and must stand down
      IndexRouting.register(SparkT.spark, hbase, hidx, "s", "id")
      assert(semiJoins(hot) == 0, hot.queryExecution.optimizedPlan.toString)
      assert(hot.count() === 9050L)
      // the entry itself is live: a narrow range in the cold zone routes
      val cold = SparkT.spark.read.parquet(hbase)
        .filter($"s" >= "k0500" && $"s" <= "k0509").select($"id")
      assert(semiJoins(cold) == 1, cold.queryExecution.optimizedPlan.toString)
      assert(cold.as[Long].collect().toSet === (500L to 509L).toSet)
      // unregister ONLY this test's base — clear() would wipe the suite's
      // shared registrations for every later test
    } finally IndexRouting.unregister(SparkT.spark, hbase)
  }

  test("count picks the index with the fewest rows when two serve (r10)") {
    val tmp = Files.createTempDirectory("graft-idxroute-twocnt")
    val cbase = tmp.resolve("cb").toString
    val small = tmp.resolve("ismall").toString
    val big = tmp.resolve("ibig").toString
    val rows = (0L until 1000L).map(i => (i, i / 2))
    val df = rows.toDF("id", "v")
    Writer.write(df, cbase, sortBy = Seq("id"))
    val rd = SparkT.spark.read.parquet(cbase)
    // compacted index: one (value, chunk) row per value
    SecondaryIndex.build(rd, "v", "id", small)
    // segmented duplicate: every (value, chunk) group split across two
    // segments → twice the index rows for the same answers
    SecondaryIndex.build(rd.filter($"id" % 2 === 0), "v", "id", big)
    SecondaryIndex.appendSegment(rd.filter($"id" % 2 === 1), "v", "id", big)
    IndexRouting.register(SparkT.spark, cbase, big, "v", "id")
    IndexRouting.register(SparkT.spark, cbase, small, "v", "id")
    val cnt = SparkT.spark.read.parquet(cbase).filter($"v" === 10L)
      .agg(count(lit(1)).as("n"))
    val paths = scanPaths(cnt)
    assert(paths.exists(_.contains("ismall")) &&
      !paths.exists(_.contains("ibig")),
      cnt.queryExecution.optimizedPlan.toString)
    assert(cnt.as[Long].head() === 2L)
  }

  test("routing the same index twice yields distinct exprIds per injection (r10)") {
    // ADVICE r9: the cached analyzed index plan must be newInstance()'d
    // per injection — a self-join of two routed filters would otherwise
    // carry duplicate exprIds across sibling subtrees
    val l = base.filter($"v" === 10L).select($"id")
    val r2 = base.filter($"v" === 11L).select($"id".as("id2"))
    val j = l.join(r2, $"id" === $"id2" - 2L)
    def isIdxV(lr: LogicalRelation): Boolean = lr.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.exists(_.toString.contains("idxv"))
      case _ => false
    }
    val idxOuts = j.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation if isIdxV(lr) => lr.output.map(_.exprId)
    }
    assert(idxOuts.size == 2, "expected two routed index scans")
    assert(idxOuts.head.toSet.intersect(idxOuts(1).toSet).isEmpty,
      s"duplicate exprIds across injections: $idxOuts")
    assert(j.as[(Long, Long)].collect().toSet ===
      Set((20L, 22L), (21L, 23L)))
  }

  test("DISTINCT and COUNT(DISTINCT) on the indexed column are index-only (I7)") {
    val dv = base.select($"v").distinct()
    assert(!scanPaths(dv).exists(_.contains("base")),
      dv.queryExecution.optimizedPlan.toString)
    assert(dv.as[Long].collect().toSet === (0L until 500L).toSet)
    val ndv = base.agg(count_distinct($"v").as("ndv"))
    assert(!scanPaths(ndv).exists(_.contains("base")),
      ndv.queryExecution.optimizedPlan.toString)
    assert(ndv.as[Long].head() === 500L)
    // filtered ndv rides the index scan too
    val fndv = base.filter($"v" < 10L).agg(count_distinct($"v").as("ndv"))
    assert(!scanPaths(fndv).exists(_.contains("base")))
    assert(fndv.as[Long].head() === 10L)
    // count(distinct) over an UNINDEXED column is untouched
    val ux = base.agg(count_distinct($"x").as("ndv"))
    assert(scanPaths(ux).exists(_.contains("base")))
    assert(ux.as[Long].head() === 100L)
  }

  test("MIN/MAX of the indexed column is index-only, filtered or not (r12)") {
    // unfiltered pair of aggregates
    val mm = base.agg(min($"v").as("mn"), max($"v").as("mx"))
    assert(!scanPaths(mm).exists(_.contains("base")),
      mm.queryExecution.optimizedPlan.toString)
    assert(mm.as[(Long, Long)].head() === ((0L, 499L)))
    // servable range filter rides the index too
    val fm = base.filter($"v" >= 100L && $"v" < 200L)
      .agg(min($"v").as("mn"), max($"v").as("mx"))
    assert(!scanPaths(fm).exists(_.contains("base")))
    assert(fm.as[(Long, Long)].head() === ((100L, 199L)))
    // empty match: NULL on the routed path, same as SQL
    val em = base.filter($"v" > 5000L).agg(max($"v").as("mx"))
    assert(!scanPaths(em).exists(_.contains("base")))
    assert(em.select($"mx".isNull).as[Boolean].head())
    // string-valued index routes the same way
    val sm = base.agg(min($"w").as("mn"), max($"w").as("mx"))
    assert(!scanPaths(sm).exists(_.contains("base")))
    assert(sm.as[(String, String)].head() === (("0", "4")))
    // mixed columns need fact rows: untouched
    val mixed = base.agg(min($"v").as("mn"), max($"x").as("mx"))
    assert(scanPaths(mixed).exists(_.contains("base")))
    assert(mixed.as[(Long, Long)].head() === ((0L, 99L)))
    // unservable residual filter (on x) keeps the fact scan
    val resid = base.filter($"x" === 7L).agg(min($"v").as("mn"))
    assert(scanPaths(resid).exists(_.contains("base")))
    assert(resid.as[Long].head() === 3L)  // min(id/2) over ids 7,107,…
  }

  test("SUM/COUNT of the indexed column ride the postings: value*cnt, Σcnt (r12)") {
    // v = id/2 over 1000 rows: Σv = 2*Σ(0..499) = 249500; all four
    // aggregates in ONE rewritten plan
    val all = base.filter($"v" >= 10L && $"v" < 20L)
      .agg(sum($"v").as("sv"), count($"v").as("cv"),
        min($"v").as("mn"), max($"v").as("mx"))
    assert(!scanPaths(all).exists(_.contains("base")),
      all.queryExecution.optimizedPlan.toString)
    // each v in [10,20) appears twice: Σ = 2*(10+…+19) = 290, n = 20
    assert(all.as[(Long, Long, Long, Long)].head() === ((290L, 20L, 10L, 19L)))
    val us = base.agg(sum($"v").as("sv"))
    assert(!scanPaths(us).exists(_.contains("base")))
    assert(us.as[Long].head() === 249500L)
    // empty match: SUM null, COUNT 0 — SQL parity on the routed path
    val esc = base.filter($"v" > 5000L)
      .agg(sum($"v").as("sv"), count($"v").as("cv"))
    assert(!scanPaths(esc).exists(_.contains("base")))
    val r = esc.select($"sv".isNull, $"cv").as[(Boolean, Long)].head()
    assert(r === ((true, 0L)))
    // a non-integral column would float-reorder: the STRING index never
    // serves sum (and count over it still routes)
    val ws = base.agg(sum($"w".cast("double")).as("sw"))
    assert(scanPaths(ws).exists(_.contains("base")))
    // count(*) MIXED with column aggregates routes (Σ cnt over all
    // postings — the common "min, max, count(*)" profile query)
    val star = base.filter($"v" >= 10L && $"v" < 20L)
      .agg(min($"v").as("mn"), count(lit(1)).as("n"))
    assert(!scanPaths(star).exists(_.contains("base")),
      star.queryExecution.optimizedPlan.toString)
    assert(star.as[(Long, Long)].head() === ((10L, 20L)))
  }

  test("exact PERCENTILE of the indexed column rides the postings as frequencies (r12)") {
    // v = id/2: 0,0,1,1,…,499,499 — a clean interpolation fixture
    val q = base.agg(expr("percentile(v, 0.5)").as("med"),
      expr("percentile(v, array(0.25, 0.75))").as("qs"))
    assert(!scanPaths(q).exists(_.contains("base")),
      q.queryExecution.optimizedPlan.toString)
    val (med, qs) = q.as[(Double, Seq[Double])].head()
    // brute force over the fact multiset
    val vs = (0 until 1000).map(_ / 2).sorted
    def pct(p: Double): Double = {
      val rp = p * (vs.size - 1)
      val (lo, hi) = (vs(rp.toInt), vs(math.ceil(rp).toInt))
      lo + (hi - lo) * (rp - rp.toInt)
    }
    assert(med === pct(0.5))
    assert(qs === Seq(pct(0.25), pct(0.75)))
    // filtered: the servable range rides the index too
    val fq = base.filter($"v" >= 100L && $"v" <= 199L)
      .agg(expr("percentile(v, 0.9)").as("p90"))
    assert(!scanPaths(fq).exists(_.contains("base")))
    val fvs = vs.filter(v => v >= 100 && v <= 199)
    val frp = 0.9 * (fvs.size - 1)
    assert(fq.as[Double].head() ===
      fvs(frp.toInt) + (fvs(math.ceil(frp).toInt) - fvs(frp.toInt)) * (frp - frp.toInt))
    // explicit-frequency percentile is NOT the unit-frequency shape: bypass
    val wf = base.agg(expr("percentile(v, 0.5, x)").as("m"))
    assert(scanPaths(wf).exists(_.contains("base")))
    // scalar wrapping keeps the route — CollapseProject folds a
    // post-aggregate round() INTO the aggregate list, so the rule must
    // serve Alias(Round(percentile)) (r12-3; the gate's exact shape)
    val above = base.filter($"v" >= 10L && $"v" < 20L)
      .agg(expr("percentile(v, 0.5)").as("m0"))
      .select(round($"m0", 2).as("med"))
    assert(!scanPaths(above).exists(_.contains("base")),
      above.queryExecution.optimizedPlan.toString)
    assert(above.as[Double].head() === 14.5)
    val spread = base.agg((max($"v") - min($"v")).as("range"),
      round(expr("percentile(v, 0.5)"), 2).as("med"))
    assert(!scanPaths(spread).exists(_.contains("base")),
      spread.queryExecution.optimizedPlan.toString)
    assert(spread.as[(Long, Double)].head() === ((499L, 249.5)))
  }

  test("property: routed column aggregates equal brute force over random ranges (r12)") {
    val rnd = new scala.util.Random(41)
    val rows = (0L until 1000L).map(i => (i, i / 2))
    (1 to 25).foreach { _ =>
      val lo = rnd.nextInt(520).toLong
      val hi = lo + rnd.nextInt(80).toLong
      val q = base.filter($"v" >= lo && $"v" <= hi)
        .agg(sum($"v").as("sv"), count($"v").as("cv"),
          min($"v").as("mn"), max($"v").as("mx"))
      assert(!scanPaths(q).exists(_.contains("base")))
      val got = q.select(coalesce($"sv", lit(-1L)), $"cv",
        coalesce($"mn", lit(-1L)), coalesce($"mx", lit(-1L)),
        $"sv".isNull).as[(Long, Long, Long, Long, Boolean)].head()
      val vs = rows.map(_._2).filter(v => v >= lo && v <= hi)
      if (vs.isEmpty) assert(got._5 && got._2 === 0L && got._3 === -1L)
      else assert((got._1, got._2, got._3, got._4) ===
        ((vs.sum, vs.size.toLong, vs.min, vs.max)))
    }
  }

  test("property: routed plans agree with client-side evaluation for random predicates") {
    // 40 random servable predicates across the gate (some route, some
    // bypass — both must be correct); expected sets evaluated in plain
    // Scala against the generator's own rows. Half the trials run with a
    // widened 0.3 gate so the broader shapes — the cross-column OR union
    // in particular, whose w-branch alone estimates 0.2 — actually take
    // their ROUTED path in some trials (review r10-3: at the default 0.1
    // every cross-column OR bypassed and the union rewrite went untested
    // here).
    val rows = (0L until 1000L).map(i => (i, i / 2, (i % 5).toString, i % 100))
    val rnd = new scala.util.Random(47)
    try (1 to 40).foreach { trial =>
      if (rnd.nextBoolean())
        SparkT.spark.conf.set("spark.graft.index.routeThreshold", "0.3")
      else SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
      val a = rnd.nextLong(600) - 50
      val b = a + rnd.nextLong(200)
      val (pred, want) = rnd.nextInt(8) match {
        case 0 => ($"v" === a, rows.filter(_._2 == a))
        case 1 => ($"v" < a, rows.filter(_._2 < a))
        case 2 => ($"v" >= a, rows.filter(_._2 >= a))
        case 3 =>
          val vs = Seq.fill(1 + rnd.nextInt(4))(rnd.nextLong(600) - 50)
          ($"v".isin(vs: _*), rows.filter(r => vs.contains(r._2)))
        case 4 => ($"v" >= a && $"v" <= b,
          rows.filter(r => r._2 >= a && r._2 <= b))
        case 5 => ($"v" === a && $"x" > 50L,
          rows.filter(r => r._2 == a && r._4 > 50))
        // same-column OR (one postings filter) and CROSS-column OR (key
        // union) — both ends of the sum-estimate gate show up across
        // trials, and both must be correct (r10-2)
        case 6 => ($"v" === a || ($"v" >= b && $"v" < b + 5),
          rows.filter(r => r._2 == a || (r._2 >= b && r._2 < b + 5)))
        case 7 =>
          val w = rnd.nextInt(5).toString
          ($"v" === a || $"w" === w,
            rows.filter(r => r._2 == a || r._3 == w))
      }
      val got = base.filter(pred).select($"id").as[Long].collect().toSet
      assert(got === want.map(_._1).toSet, s"trial $trial pred $pred")
      val cnt = base.filter(pred).agg(count(lit(1))).as[Long].head()
      assert(cnt === want.size.toLong, s"trial $trial count, pred $pred")
    // a failing trial must not leave the widened gate behind for the rest
    // of the shared-session suite (review r10-4)
    } finally SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
  }

  // --- arbitrary-arity composition (r11; the reference's filter trees
  // nest arbitrarily, columnar/columnar.cpp:721-746) --------------------

  // Seven indexes on one fact table: a/b/c low-ndv (8) and mutually
  // independent by construction — each equality estimates 0.125, above
  // the 0.1 gate, so only the INTERSECTION fallback can route a
  // conjunction of them; p/q/r high-ndv (200) so OR branches over them
  // estimate 0.005 and multi-branch unions clear the sum gate; m an MVA
  // column (element ndv 800).
  private lazy val mRows: Seq[(Long, Long, Long, Long, Long, Long, Long, Seq[Long])] =
    (0L until 2000L).map(i => (i, i % 8, (i / 8) % 8, (i / 64) % 8,
      i % 200, (i * 3) % 200, (i * 7) % 200,
      Seq(i % 400, 400L + (i * 3) % 400)))

  private lazy val mBaseDir: String = {
    val tmp = Files.createTempDirectory("graft-idxarity")
    val b = tmp.resolve("mbase").toString
    val df = mRows.toDF("id", "a", "b", "c", "p", "q", "r", "m")
    Writer.write(df, b, sortBy = Seq("id"))
    val rd = SparkT.spark.read.parquet(b)
    Seq("a", "b", "c", "p", "q", "r").foreach { cn =>
      val ip = tmp.resolve(s"idx_$cn").toString
      SecondaryIndex.build(rd, cn, "id", ip)
      IndexRouting.register(SparkT.spark, b, ip, cn, "id")
    }
    val im = tmp.resolve("idx_m").toString
    SecondaryIndex.buildMva(rd, "m", "id", im)
    IndexRouting.register(SparkT.spark, b, im, "m", "id", mva = true)
    b
  }

  private def mBase: DataFrame = SparkT.spark.read.parquet(mBaseDir)

  test("three-index intersection: two inner joins reduce the streams before one fact probe (r11)") {
    val df = mBase.filter($"a" === 3L && $"b" === 4L && $"c" === 5L)
      .select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(innerJoins(df) == 2, df.queryExecution.optimizedPlan.toString)
    val want = mRows.filter(t => t._2 == 3 && t._3 == 4 && t._4 == 5).map(_._1)
    assert(df.as[Long].collect().toSet === want.toSet)
    assert(want.nonEmpty)
    // two of three servable (c replaced by a residual on id): still
    // intersects the two, residual evaluates above
    val two = mBase.filter($"a" === 3L && $"b" === 4L && $"id" % 10L === 1L)
      .select($"id")
    assert(semiJoins(two) == 1)
    assert(innerJoins(two) == 1, two.queryExecution.optimizedPlan.toString)
    assert(two.as[Long].collect().toSet ===
      mRows.filter(t => t._2 == 3 && t._3 == 4 && t._1 % 10 == 1).map(_._1).toSet)
  }

  test("OR union across three indexes: one deduped key union, one fact probe (r11)") {
    val df = mBase.filter($"p" === 7L || $"q" === 55L || $"r" === 133L)
      .select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    val paths = scanPaths(df)
    Seq("idx_p", "idx_q", "idx_r").foreach(n =>
      assert(paths.exists(_.contains(n)), s"$n not in $paths"))
    val want = mRows.filter(t => t._5 == 7 || t._6 == 55 || t._7 == 133).map(_._1)
    assert(df.as[Long].collect().toSet === want.toSet)
    // count over the same OR is answered from the key union alone
    val cnt = mBase.filter($"p" === 7L || $"q" === 55L || $"r" === 133L)
      .agg(count(lit(1)).as("cnt"))
    assert(!scanPaths(cnt).exists(_.contains("mbase")),
      cnt.queryExecution.optimizedPlan.toString)
    assert(cnt.as[Long].head() === want.size.toLong)
  }

  test("OR union mixing an MVA branch with scalar branches routes (r11)") {
    val df = mBase.filter($"p" === 7L || array_contains($"m", 123L) ||
        $"q" === 55L)
      .select($"id")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    val paths = scanPaths(df)
    Seq("idx_p", "idx_m", "idx_q").foreach(n =>
      assert(paths.exists(_.contains(n)), s"$n not in $paths"))
    val want = mRows.filter(t =>
      t._5 == 7 || t._8.contains(123L) || t._6 == 55).map(_._1)
    assert(want.nonEmpty)
    assert(df.as[Long].collect().toSet === want.toSet)
  }

  test("property: arbitrary-arity intersections and unions agree with brute force (r11)") {
    type MRow = (Long, Long, Long, Long, Long, Long, Long, Seq[Long])
    val getter = Map[String, MRow => Long](
      "a" -> (_._2), "b" -> (_._3), "c" -> (_._4),
      "p" -> (_._5), "q" -> (_._6), "r" -> (_._7))
    val abc = Seq("a", "b", "c")
    val pqr = Seq("p", "q", "r")
    val rnd = new scala.util.Random(83)
    try (1 to 30).foreach { trial =>
      if (rnd.nextBoolean())
        SparkT.spark.conf.set("spark.graft.index.routeThreshold", "0.3")
      else SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
      // each branch: a Column predicate + its Scala twin over a row
      val shape = rnd.nextInt(3)
      val branches: Seq[(org.apache.spark.sql.Column, MRow => Boolean)] =
        shape match {
          case 0 => // AND of 2..3 low-ndv equalities (intersection shape)
            rnd.shuffle(abc).take(2 + rnd.nextInt(2)).map { n =>
              val l = rnd.nextLong(8)
              (col(n) === l, (t: MRow) => getter(n)(t) == l)
            }
          case 1 => // OR of 2..4 high-ndv branches (union shape)
            (1 to 2 + rnd.nextInt(3)).map { _ =>
              val n = pqr(rnd.nextInt(3))
              val l = rnd.nextLong(220) - 10
              (col(n) === l, (t: MRow) => getter(n)(t) == l)
            }
          case 2 => // OR mixing MVA contains with 1..2 scalar branches
            val e = rnd.nextLong(800)
            (1 to 1 + rnd.nextInt(2)).map { _ =>
              val n = pqr(rnd.nextInt(3))
              val l = rnd.nextLong(200)
              (col(n) === l, (t: MRow) => getter(n)(t) == l)
            } :+ ((array_contains($"m", e), (t: MRow) => t._8.contains(e)))
        }
      val conj = shape == 0 // shape 0 is the AND composition
      val pred = if (conj) branches.map(_._1).reduce(_ && _)
                 else branches.map(_._1).reduce(_ || _)
      val want = mRows.filter(t =>
        if (conj) branches.forall(_._2(t)) else branches.exists(_._2(t)))
      val got = mBase.filter(pred).select($"id").as[Long].collect().toSet
      assert(got === want.map(_._1).toSet, s"trial $trial pred $pred")
      val cnt = mBase.filter(pred).agg(count(lit(1))).as[Long].head()
      assert(cnt === want.size.toLong, s"trial $trial count, pred $pred")
    } finally SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
  }

  // LAST in the suite: sweeps the real derived catalog into the registry,
  // then clears ALL registrations (suites run sequentially in the forked
  // test JVM, so no other suite observes the window).
  test("ORDER BY value LIMIT k routes through the value-ordered postings prefix (r11)") {
    val rows = (0L until 1000L).map(i => (i, i / 2))
    val df = base.orderBy($"v".asc, $"id".asc).limit(10).select($"id", $"v")
    assert(semiJoins(df) == 1, df.queryExecution.optimizedPlan.toString)
    assert(scanPaths(df).exists(_.contains("idxv")))
    assert(df.as[(Long, Long)].collect().toSeq ===
      rows.sortBy { case (id, v) => (v, id) }.take(10))
    // fully-reversed ordering routes too (chunk order is key order, so the
    // reversed prefix covers the largest (value, key) rows)
    val dd = base.orderBy($"v".desc, $"id".desc).limit(10).select($"id", $"v")
    assert(semiJoins(dd) == 1, dd.queryExecution.optimizedPlan.toString)
    assert(dd.as[(Long, Long)].collect().toSeq ===
      rows.sortBy { case (id, v) => (-v, -id) }.take(10))
    // bare value ordering (no tie-break) routes; ties make row identity
    // engine-chosen, so compare the value multiset
    val bare = base.orderBy($"v".asc).limit(9).select($"v")
    assert(semiJoins(bare) == 1)
    assert(bare.as[Long].collect().toSeq.sorted ===
      rows.map(_._2).sorted.take(9))
    // broad k bypasses: the probe economy is gone near the table size
    val broad = base.orderBy($"v".asc, $"id".asc).limit(500)
    assert(semiJoins(broad) == 0, broad.queryExecution.optimizedPlan.toString)
    // mixed-direction tie-break: the prefix cannot cover it — refused
    assert(semiJoins(base.orderBy($"v".asc, $"id".desc).limit(10)) == 0)
    // a secondary key that is not the rowid column — refused
    assert(semiJoins(base.orderBy($"v".asc, $"x".asc).limit(10)) == 0)
    // a filter under the sort is a different composition — refused (x is
    // unindexed, so the filter route does not fire either)
    assert(semiJoins(
      base.filter($"x" > 1000).orderBy($"v".asc, $"id".asc).limit(10)) == 0)
  }

  test("value-ordered prefix serves NULL values under both null orderings (r11)") {
    val tmp = Files.createTempDirectory("graft-idxtopk-null")
    val b2 = tmp.resolve("base").toString
    val i2 = tmp.resolve("idx").toString
    val df = (0L until 100L)
      .map(i => (i, if (i < 5) None else Some(i)))
      .toDF("id", "v")
    Writer.write(df, b2, sortBy = Seq("id"))
    val rd = SparkT.spark.read.parquet(b2)
    SecondaryIndex.build(rd, "v", "id", i2)
    IndexRouting.register(SparkT.spark, b2, i2, "v", "id")
    try {
      // asc nulls-first (Spark's default): the postings' NULL-value group
      // leads the prefix, so the null rows ARE served from the index
      val nf = rd.orderBy($"v".asc, $"id".asc).limit(8).select($"id")
      assert(semiJoins(nf) == 1, nf.queryExecution.optimizedPlan.toString)
      assert(nf.as[Long].collect().toSeq === (0L to 7L))
      val nl = rd.orderBy($"v".asc_nulls_last, $"id".asc).limit(3).select($"id")
      assert(semiJoins(nl) == 1)
      assert(nl.as[Long].collect().toSeq === Seq(5L, 6L, 7L))
    } finally IndexRouting.clear()
  }

  test("sorted retrieval routes on a SEGMENTED index via split-group merge (r12)") {
    val tmp = Files.createTempDirectory("graft-idxtopk-seg")
    val b2 = tmp.resolve("base").toString
    val i2 = tmp.resolve("idx").toString
    // ONE hot value spanning 4 key-chunks, even keys in the build segment
    // and odd keys appended: every (value, chunk) group is split across
    // two segment files, and k=10 sits INSIDE the boundary group — a
    // prefix over raw rows would keep one split sibling whole-chunk and
    // drop the other, losing half of the 10 smallest keys. The merge
    // restores the canonical groups, so the route must fire AND agree
    // with the unrouted plan.
    val all = (0L until 4096L).map(i => (i, 0L)) ++
      (4096L until 4196L).map(i => (i, i))
    val df = all.toDF("id", "v")
    Writer.write(df, b2, sortBy = Seq("id"))
    val rd = SparkT.spark.read.parquet(b2)
    SecondaryIndex.build(rd.filter($"id" % 2 === 0), "v", "id", i2)
    SecondaryIndex.appendSegment(rd.filter($"id" % 2 === 1), "v", "id", i2)
    IndexRouting.register(SparkT.spark, b2, i2, "v", "id")
    try {
      val q = rd.orderBy($"v".asc, $"id".asc).limit(10).select($"id", $"v")
      assert(semiJoins(q) == 1, q.queryExecution.optimizedPlan.toString)
      assert(q.as[(Long, Long)].collect().toSeq ===
        (0L until 10L).map(i => (i, 0L)))
      // reversed ordering crosses the same split boundary from the top
      val qd = rd.orderBy($"v".desc, $"id".desc).limit(10).select($"id", $"v")
      assert(semiJoins(qd) == 1)
      assert(qd.as[(Long, Long)].collect().toSeq ===
        (4195L to 4186L by -1L).map(i => (i, i)))
      // unregister ONLY this test's base (clear() is reserved for the
      // suite-final tests — it wipes the shared registrations)
    } finally IndexRouting.unregister(SparkT.spark, b2)
  }

  test("property: segmented top-k equals brute force over random splits/keys/k (r12)") {
    val rnd = new scala.util.Random(907)
    val tmp = Files.createTempDirectory("graft-idxtopk-prop")
    try (1 to 8).foreach { trial =>
      val b = tmp.resolve(s"b$trial").toString
      val ix = tmp.resolve(s"i$trial").toString
      val n = 500 + rnd.nextInt(1500)
      // values skew-heavy (some hot values spanning chunks) + NULLs; keys
      // spread over several 1024-chunks so splits cross chunk boundaries
      val rows = (0 until n).map { i =>
        val key = i.toLong * 8 + rnd.nextInt(8) // unique: disjoint ranges
        val v = if (rnd.nextInt(20) == 0) None
                else Some(rnd.nextInt(1 + rnd.nextInt(12)).toLong)
        (key, v)
      }
      Writer.write(rows.toDF("id", "v"), b, sortBy = Seq("id"))
      val rd = SparkT.spark.read.parquet(b)
      val nSeg = 2 + rnd.nextInt(2)
      SecondaryIndex.build(rd.filter($"id" % nSeg === 0), "v", "id", ix)
      (1 until nSeg).foreach(s =>
        SecondaryIndex.appendSegment(rd.filter($"id" % nSeg === s), "v", "id", ix))
      IndexRouting.register(SparkT.spark, b, ix, "v", "id")
      try {
        val k = 1 + rnd.nextInt(20)
        val asc = rnd.nextBoolean()
        val q =
          if (asc) rd.orderBy($"v".asc, $"id".asc).limit(k)
          else rd.orderBy($"v".desc_nulls_last, $"id".desc).limit(k)
        val got = q.select($"id").as[Long].collect().toSeq
        implicit val ord: Ordering[Option[Long]] =
          Ordering.Option(Ordering.Long) // None (NULL) first, Spark's asc default
        val want =
          if (asc) rows.sortBy { case (id, v) => (v, id) }.take(k).map(_._1)
          else rows.sortBy { case (id, v) => (v, id) }.reverse
            .sortBy { case (_, v) => v.isEmpty } // nulls last under desc
            .take(k).map(_._1)
        assert(semiJoins(q.select($"id")) == 1,
          s"trial $trial k=$k asc=$asc did not route")
        assert(got === want, s"trial $trial k=$k asc=$asc nSeg=$nSeg")
      } finally IndexRouting.unregister(SparkT.spark, b)
    } finally ()
  }

  test("Derived.registerIndexes: one call makes the whole catalog plan-automatic") {
    val sfDir = "/root/testdata/sf0.001"
    try {
      val pairs = graft.tables.Derived.registerIndexes(SparkT.spark, sfDir)
      assert(pairs.size >= 7, s"registered only: $pairs")
      // a plain selective filter over the BASE orders table now routes —
      // the reference daemon's zero-config behavior
      val routed = graft.engine.Graft.table(SparkT.spark, sfDir, "orders")
        .filter($"o_custkey" === 42L).select($"o_orderkey")
      assert(semiJoins(routed) == 1,
        routed.queryExecution.optimizedPlan.toString)
      // same rows as a non-servable spelling of the same predicate
      // (abs() keeps the optimizer from normalizing it into a route)
      val want = graft.engine.Graft.table(SparkT.spark, sfDir, "orders")
        .filter(abs($"o_custkey" - 42L) === 0).select($"o_orderkey")
        .as[Long].collect().toSet
      assert(routed.as[Long].collect().toSet === want)
    } finally IndexRouting.clear()
  }

  test("unregister purges the maintenance replay memos: reregisterDropped " +
      "cannot resurrect an explicitly-invalidated registration (r18 review)") {
    val tmp = Files.createTempDirectory("graft-idxroute-unreg")
    val ub = tmp.resolve("ub").toString
    val ui = tmp.resolve("ui").toString
    val r1 = (0L until 1000L).map(i => (i, i % 500))
    Writer.write(r1.toDF("id", "v"), ub, sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(ub), "v", "id", ui)
    IndexRouting.register(SparkT.spark, ub, ui, "v", "id")
    def q = SparkT.spark.read.parquet(ub).filter($"v" === 10L).select($"id")
    assert(semiJoins(q) == 1)
    // maintenance drop (remembers the key for replay)...
    val r2 = (1000L until 1100L).map(i => (i, i % 500))
    SecondaryIndex.appendSegment(r2.toDF("id", "v"), "v", "id", ui)
    assert(semiJoins(q) == 0)
    // ...then the USER invalidates (e.g. the fact table was rewritten):
    // the memo must go too, or the next maintenance tick would route
    // queries to an index that no longer covers the table
    IndexRouting.unregister(SparkT.spark, ub)
    IndexRouting.reregisterDropped(SparkT.spark)
    assert(semiJoins(q) == 0,
      "reregisterDropped resurrected an unregistered entry")
  }

  test("a zero-width IN-BOUNDS range estimates as a point, not emptiness " +
      "(r18 review)") {
    // the uniform-span formula computes width 0 for lo==hi; the old
    // exact-zero short-circuit made `v BETWEEN x AND x` (and `v >= vMax`)
    // claim PROVABLE EMPTINESS -- routing past ANY threshold while the
    // equality spelling of the same predicate obeys the estimator. Pin:
    // under a threshold tighter than the point estimate (1/ndv = 0.002),
    // both spellings refuse; a genuinely disjoint range still
    // short-circuits to the route.
    // an earlier test's clear() may have wiped the suite fixture's
    // registrations — restore the v index this test routes through
    IndexRouting.register(SparkT.spark, baseDir, idxVDir, "v", "id")
    SparkT.spark.conf.set("spark.graft.index.routeThreshold", "0.001")
    try {
      def eq = base.filter($"v" === 10L).select($"id")
      def between = base.filter($"v" >= 10L && $"v" <= 10L).select($"id")
      def atMax = base.filter($"v" >= 499L).select($"id")
      def disjoint = base.filter($"v" >= 10000L && $"v" <= 10001L)
        .select($"id")
      assert(semiJoins(eq) == 0)
      assert(semiJoins(between) == 0,
        "zero-width range must estimate like its equality spelling")
      assert(semiJoins(atMax) == 0,
        "a bound AT vMax matches every vMax row -- not emptiness")
      assert(between.as[Long].collect().toSet ===
        eq.as[Long].collect().toSet)
      assert(atMax.as[Long].collect().toSet === Set(998L, 999L))
      assert(semiJoins(disjoint) == 1) // provably empty: route freely
      assert(disjoint.count() === 0L)
    } finally SparkT.spark.conf.unset("spark.graft.index.routeThreshold")
  }

  test("a drifted index value type refuses the agg routes instead of " +
      "rewiring exprIds to the wrong physical type (r18 review)") {
    val tmp = Files.createTempDirectory("graft-idxroute-drift")
    val db = tmp.resolve("db").toString
    val di = tmp.resolve("di").toString
    val dw = tmp.resolve("dw").toString
    val df = (0L until 1000L).map(i => (i, (i % 50).toInt, i % 100))
      .toDF("id", "v", "w")
    Writer.write(df, db, sortBy = Seq("id"))
    // index built from a WIDENED copy (long) of the int fact column --
    // the mis-registration shape the type guard exists for
    SecondaryIndex.build(df.withColumn("v", $"v".cast("long")), "v", "id", di)
    IndexRouting.register(SparkT.spark, db, di, "v", "id")
    // a correctly typed index on w: the cross-index OR below would route
    // through both if the drifted v index were still eligible
    SecondaryIndex.build(df, "w", "id", dw)
    IndexRouting.register(SparkT.spark, db, dw, "w", "id")
    try {
      val facet = SparkT.spark.read.parquet(db).groupBy($"v").count()
      assert(scanPaths(facet).exists(_.contains("db")),
        "drifted type must stand down to the fact scan")
      assert(facet.count() === 50L)
      val agg = SparkT.spark.read.parquet(db)
        .agg(sum($"v").as("s")).as[Long].head()
      assert(agg === (0 until 1000).map(_ % 50).sum.toLong)
      // every route picks its registrations through one type-guarded
      // choice: CalcCount, the filter semi-join, the OR union and sorted
      // retrieval stand down to the fact scan too, never abort the query
      val ids = 0L until 1000L
      def noDrifted(q: DataFrame): Unit = assert(
        !scanPaths(q).map(p => new org.apache.hadoop.fs.Path(p).getName)
          .contains("di"), q.queryExecution.optimizedPlan.toString)
      def rd = SparkT.spark.read.parquet(db)
      Seq[(org.apache.spark.sql.Column, Long => Boolean)](
        ($"v" === 10, i => i % 50 == 10),
        ($"v" < 3, i => i % 50 < 3),
        ($"v".isin(1, 2), i => i % 50 == 1 || i % 50 == 2),
        ($"v" === 10 && $"w" > 50L, i => i % 50 == 10 && i % 100 > 50),
        ($"v" === 10 || $"w" === 7L, i => i % 50 == 10 || i % 100 == 7)
      ).foreach { case (pred, want) =>
        val cnt = rd.filter(pred).agg(count(lit(1)).as("n"))
        noDrifted(cnt)
        assert(cnt.as[Long].head() === ids.count(want).toLong, pred.toString)
        val rows = rd.filter(pred).select($"id")
        noDrifted(rows)
        assert(rows.as[Long].collect().toSet === ids.filter(want).toSet,
          pred.toString)
      }
      val top = rd.orderBy($"v", $"id").limit(5).select($"id")
      noDrifted(top)
      assert(top.as[Long].collect().toSeq === Seq(0L, 50L, 100L, 150L, 200L))
    } finally IndexRouting.unregister(SparkT.spark, db)
  }

  test("pin table: index-only aggregates over scalar, MVA and double " +
      "indexes, unfiltered / servable filter / servable + residual") {
    val tmp = Files.createTempDirectory("graft-idxroute-pins")
    def dir(n: String) = tmp.resolve(n).toString
    val df = (0L until 1000L).map { i =>
      val v = if (i % 97 == 5) None else Some(i / 2)
      (i, v, (i % 50).toString, i % 100, v.map(_ * 0.5), Seq(i / 2, i / 2 + 600))
    }.toDF("id", "v", "w", "x", "d", "arr")
    Writer.write(df, dir("pinbase"), sortBy = Seq("id"))
    // the same rows at an unregistered path: the unrouted answer
    Writer.write(df, dir("pinplain"), sortBy = Seq("id"))
    val rd = SparkT.spark.read.parquet(dir("pinbase"))
    Seq("v" -> "piv", "w" -> "piw", "d" -> "pid").foreach { case (c, i) =>
      SecondaryIndex.build(rd, c, "id", dir(i))
      IndexRouting.register(SparkT.spark, dir("pinbase"), dir(i), c, "id")
    }
    SecondaryIndex.buildMva(rd, "arr", "id", dir("pia"))
    IndexRouting.register(SparkT.spark, dir("pinbase"), dir("pia"), "arr",
      "id", mva = true)
    type Shape = (DataFrame, String) => DataFrame
    val pct = (c: String) => expr(s"percentile($c, 0.5)")
    // (name, numeric-only, shape)
    val shapes: Seq[(String, Boolean, Shape)] = Seq(
      ("count(*)", false, (t, _) => t.agg(count(lit(1)).as("n"))),
      ("group", false, (t, c) => t.select(col(c)).distinct()),
      ("group+count(*)", false,
        (t, c) => t.groupBy(col(c)).agg(count(lit(1)).as("n"))),
      ("group+sum", true, (t, c) => t.groupBy(col(c)).agg(sum(col(c)).as("s"))),
      ("count(distinct)", false, (t, c) => t.agg(count_distinct(col(c)).as("n"))),
      ("count(distinct)+max", false,
        (t, c) => t.agg(count_distinct(col(c)).as("n"), max(col(c)).as("m"))),
      ("min", false, (t, c) => t.agg(min(col(c)).as("m"))),
      ("max", false, (t, c) => t.agg(max(col(c)).as("m"))),
      ("sum", true, (t, c) => t.agg(sum(col(c)).as("s"))),
      ("count(col)", false, (t, c) => t.agg(count(col(c)).as("n"))),
      ("percentile", true, (t, c) => t.agg(pct(c).as("p"))),
      ("round(percentile)", true, (t, c) => t.agg(round(pct(c), 2).as("p"))),
      ("max-min", true, (t, c) => t.agg((max(col(c)) - min(col(c))).as("r"))),
      ("count(*)+min", false,
        (t, c) => t.agg(count(lit(1)).as("n"), min(col(c)).as("m"))))
    val resid = $"x" > 20L
    // (kind, column, servable filter)
    val kinds = Seq(("long", "v", $"v" < 10L), ("double", "d", $"d" < 5.0),
      ("mva", "arr", array_contains($"arr", 10L)))
    val cases: Seq[(String, Option[org.apache.spark.sql.Column],
        DataFrame => DataFrame)] = kinds.flatMap { case (kind, c, serv) =>
      shapes.filter(s => kind != "mva" || !s._2).flatMap { case (n, _, f) =>
        Seq("none" -> None, "servable" -> Some(serv),
          "residual" -> Some(serv && resid)).map { case (fn, p) =>
          (s"$kind $n $fn", p, (t: DataFrame) => f(t, c))
        }
      }
    } ++ {
      val or = $"v" === 3L || $"w" === "7"
      Seq("none" -> None, "servable" -> Some(or),
        "residual" -> Some(or && resid)).map { case (fn, p) =>
        (s"long or-count(*) $fn", p,
          (t: DataFrame) => t.agg(count(lit(1)).as("n")))
      }
    }
    def scans(q: DataFrame): String = scanPaths(q)
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
      .map(n => if (n == "pinbase") "base" else n).distinct.sorted.mkString("+")
    def rows(q: DataFrame): Seq[String] = q.collect().map(_.toString).sorted.toSeq
    try {
      val observed = cases.map { case (name, p, f) =>
        def run(path: String) = {
          val t = SparkT.spark.read.parquet(dir(path))
          f(p.fold(t)(t.filter))
        }
        val routed = run("pinbase")
        assert(rows(routed) === rows(run("pinplain")), name)
        name -> scans(routed)
      }
      val table = observed.map { case (n, s) => s"$n $s" }.mkString("\n")
      assert(table === pinnedRoutes, s"observed table:\n$table")
    } finally IndexRouting.unregister(SparkT.spark, dir("pinbase"))
  }

  /** Routed-or-not per pin-table row (`kind shape filter scanned-dirs`):
    * `base` = the fact table, `piv`/`pid`/`pia`/`piw` = the v, d, arr
    * (MVA) and w indexes. The rows were recorded with the rule's four
    * separate aggregate rewrites, before they became one route. */
  private val pinnedRoutes = """
    |long count(*) none base
    |long count(*) servable piv
    |long count(*) residual base+piv
    |long group none piv
    |long group servable piv
    |long group residual base+piv
    |long group+count(*) none piv
    |long group+count(*) servable piv
    |long group+count(*) residual base+piv
    |long group+sum none base
    |long group+sum servable base+piv
    |long group+sum residual base+piv
    |long count(distinct) none piv
    |long count(distinct) servable piv
    |long count(distinct) residual base+piv
    |long count(distinct)+max none base
    |long count(distinct)+max servable base+piv
    |long count(distinct)+max residual base+piv
    |long min none piv
    |long min servable piv
    |long min residual base+piv
    |long max none piv
    |long max servable piv
    |long max residual base+piv
    |long sum none piv
    |long sum servable piv
    |long sum residual base+piv
    |long count(col) none piv
    |long count(col) servable piv
    |long count(col) residual base+piv
    |long percentile none piv
    |long percentile servable piv
    |long percentile residual base+piv
    |long round(percentile) none piv
    |long round(percentile) servable piv
    |long round(percentile) residual base+piv
    |long max-min none piv
    |long max-min servable piv
    |long max-min residual base+piv
    |long count(*)+min none piv
    |long count(*)+min servable piv
    |long count(*)+min residual base+piv
    |double count(*) none base
    |double count(*) servable pid
    |double count(*) residual base+pid
    |double group none pid
    |double group servable pid
    |double group residual base+pid
    |double group+count(*) none pid
    |double group+count(*) servable pid
    |double group+count(*) residual base+pid
    |double group+sum none base
    |double group+sum servable base+pid
    |double group+sum residual base+pid
    |double count(distinct) none pid
    |double count(distinct) servable pid
    |double count(distinct) residual base+pid
    |double count(distinct)+max none base
    |double count(distinct)+max servable base+pid
    |double count(distinct)+max residual base+pid
    |double min none pid
    |double min servable pid
    |double min residual base+pid
    |double max none pid
    |double max servable pid
    |double max residual base+pid
    |double sum none base
    |double sum servable base+pid
    |double sum residual base+pid
    |double count(col) none pid
    |double count(col) servable pid
    |double count(col) residual base+pid
    |double percentile none pid
    |double percentile servable pid
    |double percentile residual base+pid
    |double round(percentile) none pid
    |double round(percentile) servable pid
    |double round(percentile) residual base+pid
    |double max-min none pid
    |double max-min servable pid
    |double max-min residual base+pid
    |double count(*)+min none pid
    |double count(*)+min servable pid
    |double count(*)+min residual base+pid
    |mva count(*) none base
    |mva count(*) servable base+pia
    |mva count(*) residual base+pia
    |mva group none base
    |mva group servable base+pia
    |mva group residual base+pia
    |mva group+count(*) none base
    |mva group+count(*) servable base+pia
    |mva group+count(*) residual base+pia
    |mva count(distinct) none base
    |mva count(distinct) servable base+pia
    |mva count(distinct) residual base+pia
    |mva count(distinct)+max none base
    |mva count(distinct)+max servable base+pia
    |mva count(distinct)+max residual base+pia
    |mva min none base
    |mva min servable base+pia
    |mva min residual base+pia
    |mva max none base
    |mva max servable base+pia
    |mva max residual base+pia
    |mva count(col) none base
    |mva count(col) servable base+pia
    |mva count(col) residual base+pia
    |mva count(*)+min none base
    |mva count(*)+min servable base+pia
    |mva count(*)+min residual base+pia
    |long or-count(*) none base
    |long or-count(*) servable piv+piw
    |long or-count(*) residual base+piv+piw""".stripMargin.trim

  test("a range spanning two histogram boundaries routes, one spanning three declines") {
    // histFrac pads one bucket: a range holding b of the 33 boundaries
    // estimates (b + 1) / 32 — 3/32 = 0.094 routes under the 0.1 gate,
    // 4/32 = 0.125 declines. A width-1,200 range over 15,000 distinct
    // values (a bucket is ~470 wide) holds two or three of them depending
    // on where it falls, so the same width routes in one place only.
    val tmp = Files.createTempDirectory("graft-idxroute-hist")
    val hb = tmp.resolve("hb").toString
    val hi = tmp.resolve("hi").toString
    val n = 15000L
    Writer.write((0L until n).map(i => (i, i * 7919 % n)).toDF("id", "v"), hb,
      sortBy = Seq("id"))
    SecondaryIndex.build(SparkT.spark.read.parquet(hb), "v", "id", hi)
    IndexRouting.register(SparkT.spark, hb, hi, "v", "id")
    try {
      val hist = IndexRouting.lookup(Routing.qualify(SparkT.spark, hb)).head
        .hist.map(_.asInstanceOf[Long])
      assert(hist.length === IndexRouting.HistBuckets + 1)
      def inside(lo: Long) = hist.count(b => b >= lo && b <= lo + 1199L)
      val los = (0L to n - 1200L by 7L)
      val two = los.find(inside(_) == 2).get
      val three = los.find(inside(_) == 3).get
      for ((lo, routes) <- Seq(two -> 1, three -> 0)) {
        val df = SparkT.spark.read.parquet(hb)
          .filter($"v".between(lo, lo + 1199L)).select($"id")
        assert(semiJoins(df) === routes, s"[$lo, ${lo + 1199}]")
        assert(df.count() === 1200L)
      }
    } finally IndexRouting.unregister(SparkT.spark, hb)
  }
}
