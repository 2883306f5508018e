package graft.engine

import graft.SparkT
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, StandardCopyOption}

/** [[Graft.cachedRead]] invalidation contract (r22, VERDICT r21 #5/#8):
  * the listStatus signature (name, mtime-ms, length of direct children)
  * catches every real engine writer (they add/rename/remove direct
  * children), but a mutation confined to a NESTED subdirectory whose
  * parent mtime is forged back is invisible to it — the cached plan's
  * frozen file index would silently drop the new rows. Every engine write
  * path therefore calls [[Graft.invalidate]] explicitly; this spec proves
  * the invalidate serves fresh data even under that spoofed signature. */
class GraftCacheSpec extends AnyFunSuite {

  import SparkT.spark.implicits._

  private def onlyParquet(dir: Path): Path = {
    val files = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(files.length == 1, s"expected one parquet file, got ${files.toSeq}")
    files.head
  }

  test("invalidate serves fresh rows past a signature-invisible nested append") {
    val root = Files.createTempDirectory("graft-inval")
    val served = root.resolve("served")
    val staged = root.resolve("staged")
    // partitioned layout: the served dir's DIRECT children are the
    // partition subdirs — the signature never descends into them
    Seq((1L, 10L)).toDF("k", "v").coalesce(1)
      .write.partitionBy("k").parquet(served.toString)
    Seq((1L, 20L)).toDF("k", "v").coalesce(1)
      .write.partitionBy("k").parquet(staged.toString)
    val part = served.resolve("k=1")
    val before = Graft.cachedRead(SparkT.spark, served.toString)
      .select("v").as[Long].collect().toSeq.sorted
    assert(before === Seq(10L))

    // forge the nested append: drop a NEW file inside the existing
    // partition subdir, then restore the subdir's mtime so the direct-
    // children signature is byte-identical to the pre-append one
    val mtime = Files.getLastModifiedTime(part)
    Files.copy(onlyParquet(staged.resolve("k=1")),
      part.resolve("part-forged.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(part, mtime)

    // the signature cannot see the change: the cached plan's frozen file
    // index serves WITHOUT the appended row — this is the blind spot
    val stale = Graft.cachedRead(SparkT.spark, served.toString)
      .select("v").as[Long].collect().toSeq.sorted
    assert(stale === Seq(10L), "precondition: the spoof must be invisible " +
      "to the signature (otherwise this spec tests nothing)")

    // the writer-path contract: every engine write path calls invalidate
    Graft.invalidate(served.toString)
    val after = Graft.cachedRead(SparkT.spark, served.toString)
      .select("v").as[Long].collect().toSeq.sorted
    assert(after === Seq(10L, 20L),
      "invalidate must drop the stale cached plan")
  }

  test("invalidate is prefix-scoped: sidecar and generation dirs drop too") {
    val root = Files.createTempDirectory("graft-inval2")
    val base = root.resolve("idx").toString
    Seq((1L, 1L)).toDF("k", "v").write.parquet(base)
    Seq((2L, 2L)).toDF("k", "v").write.parquet(base + "_route")
    Graft.cachedRead(SparkT.spark, base)
    Graft.cachedRead(SparkT.spark, base + "_route")
    Graft.invalidate(base)
    // behavioral check via the public surface: both entries re-read fresh
    assert(Graft.cachedRead(SparkT.spark, base + "_route")
      .select("v").as[Long].collect().toSeq === Seq(2L))
    assert(Graft.cachedRead(SparkT.spark, base)
      .select("v").as[Long].collect().toSeq === Seq(1L))
  }

  test("cachedScan plans a dir's scan once per column set, prunedScan on every call; a dir change re-plans it") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, Literal}
    import org.apache.spark.sql.types.LongType
    val dir = Files.createTempDirectory("graft-scan").resolve("t").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).write.parquet(dir)
    // the filter names the column; each call brings its own attribute
    def kOver(n: Long) =
      GreaterThan(AttributeReference("k", LongType)(), Literal(n))
    def vs(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) =
      rdd.map(_.getLong(0)).collect().toSeq.sorted
    val all = Graft.cachedScan(SparkT.spark, dir, Seq("v"))
    assert(Graft.cachedScan(SparkT.spark, dir, Seq("v")) eq all)
    assert(!(Graft.cachedScan(SparkT.spark, dir, Seq("k", "v")) eq all))
    // a per-query predicate is never kept: the memo holds the two column sets
    val over1 = Graft.prunedScan(SparkT.spark, dir, Seq("v"), kOver(1L))
    assert(!(Graft.prunedScan(SparkT.spark, dir, Seq("v"), kOver(1L)) eq over1))
    assert(Graft.cachedScanCount(SparkT.spark, dir) === 2)
    assert(vs(all) === Seq(10L, 20L))
    assert(vs(over1) === Seq(20L))
    // an append changes the dir's signature: a fresh plan reads it
    Seq((3L, 30L)).toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
    val after = Graft.cachedScan(SparkT.spark, dir, Seq("v"))
    assert(!(after eq all))
    assert(vs(after) === Seq(10L, 20L, 30L))
    assert(vs(Graft.prunedScan(SparkT.spark, dir, Seq("v"), kOver(1L))) ===
      Seq(20L, 30L))
  }

  test("the dir cache evicts the least recently used dir: past 512 dirs the hot one keeps its plan and scan") {
    val root = Files.createTempDirectory("graft-lru")
    val hot = root.resolve("d0")
    Seq((1L, 10L)).toDF("k", "v").coalesce(1).write.parquet(hot.toString)
    val file = onlyParquet(hot)
    val df0 = Graft.cachedRead(SparkT.spark, hot.toString)
    val scan0 = Graft.cachedScan(SparkT.spark, hot.toString, Seq("v"))
    (1 to 512).foreach { i =>
      val d = Files.createDirectories(root.resolve(s"d$i"))
      Files.copy(file, d.resolve(file.getFileName))
      Graft.cachedRead(SparkT.spark, d.toString)
      Graft.cachedRead(SparkT.spark, hot.toString) // keeps d0 most recent
    }
    // 513 distinct dirs went through a 512-entry cache
    assert(Graft.cachedRead(SparkT.spark, hot.toString) eq df0)
    assert(Graft.cachedScan(SparkT.spark, hot.toString, Seq("v")) eq scan0)
    assert(scan0.map(_.getLong(0)).collect().toSeq === Seq(10L))
  }
}
