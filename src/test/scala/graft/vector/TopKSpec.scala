package graft.vector

import graft.{GenCheck, SparkT}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The grouped top-k aggregate [[TopK.TopKAgg]] — a bounded (value, id)
  * heap as the buffer, O(log k) insert with no per-row allocation, heap
  * merge, and a byte form for the shuffle — vs the sort-take definition,
  * over random reduce/merge trees: any partitioning of the input into
  * partial buffers, each serialized and read back as the shuffle does,
  * must finish to exactly sorted.take(k) under `java.lang.Double.compare`
  * then id. k reaches 400 (the IVF-PQ global cut runs at k·refine = 320),
  * and values include -0.0/0.0 and heavy equal-value ties. */
class TopKSpec extends AnyFunSuite with GenCheck {

  import SparkT.spark.implicits._

  private val caseGen = for {
    k <- Gen.oneOf(Gen.choose(1, 8), Gen.choose(1, 400))
    n <- Gen.oneOf(Gen.choose(0, 120), Gen.choose(0, 1000))
    items <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 50L)
      // coarse values force (value, id) ties through the tiebreak path;
      // signed zeros order -0.0 before 0.0
      v <- Gen.frequency(
        8 -> Gen.choose(0, 15).map(_ / 2.0),
        1 -> Gen.const(-0.0),
        1 -> Gen.const(0.0))
    } yield (id, v))
    nChunks <- Gen.choose(1, 6)
  } yield (k, items, nChunks)

  private val byValueThenId =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  test("random reduce/merge trees finish to exactly sorted.take(k)") {
    forAll(caseGen, n = 200) { case (k, items, nChunks) =>
      val agg = TopK.TopKAgg(BoundReference(0, LongType, nullable = false),
        BoundReference(1, DoubleType, nullable = false), k)
      val chunks = if (items.isEmpty) Seq(Seq.empty[(Long, Double)])
        else items.grouped(math.max(1, items.size / nChunks)).toSeq
      val bufs = chunks.map(_.foldLeft(agg.createAggregationBuffer()) {
        case (b, (id, v)) => agg.update(b, InternalRow(id, v))
      }).map(b => agg.deserialize(agg.serialize(b)))
      val merged = bufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
      val want = items.map(t => (t._2, t._1)).sorted(byValueThenId).take(k)
      val out = agg.eval(merged).asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map { j =>
        val r = out.getStruct(j, 2)
        (r.getDouble(0), r.getLong(1))
      }
      // compare bit patterns: == would equate -0.0 and 0.0
      def bits(xs: Seq[(Double, Long)]) =
        xs.map(t => (java.lang.Double.doubleToRawLongBits(t._1), t._2))
      assert(bits(got) === bits(want),
        s"k=$k items=$items chunks=$nChunks")
    }
  }

  test("perGroup equals the window-function reference on a DataFrame") {
    val rows = (1 to 500).map(i =>
      (s"g${i % 7}", i.toLong, ((i * 37) % 100).toDouble))
    val df = rows.toDF("g", "id", "v")
    val got = TopK.perGroup(df, "g", "id", "v", k = 3)
      .select("g", "id", "v", "rn")
      .as[(String, Long, Double, Int)].collect().toSet
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc, col("id").asc)
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .as[(String, Long, Double, Int)].collect().toSet
    assert(got === want)
  }

  test("reserved output/intermediate names are refused (r18 review)") {
    val q = Seq((1L, Array(1.0f))).toDF("dist", "qvec")
    val c = Seq((2L, Array(1.0f))).toDF("cid", "cvec")
    intercept[IllegalArgumentException](
      graft.vector.Knn.knnJoin(q, c, "dist", "qvec", "cid", "cvec", 1))
    intercept[IllegalArgumentException](
      TopK.perGroup(Seq(("g", 1L, 1.0)).toDF("grp", "id", "rn"),
        "grp", "id", "rn", 1))
  }
}
