package graft.vector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Grouped top-k over (value, id) pairs, and the primitive heaps every kNN
  * kernel keeps its candidates in.
  *
  * The grouped top-k is an untyped Catalyst aggregate ([[TopKAgg]]) whose
  * buffer is a [[BoundedTopK]] heap: the bounded merge runs map-side
  * (partial aggregation), so each group ships at most k pairs through the
  * shuffle — vs a window function, which shuffles and sorts EVERY row of
  * every group. At 100 TB with small k this is the difference between a
  * k-row and an all-row shuffle.
  *
  * Ordering everywhere: ascending (value, id) under
  * `java.lang.Double.compare` (so -0.0 sorts before 0.0 and NaN last) —
  * value ties broken by id, matching the engine's knn result convention
  * (rowid-sorted ties, knn/iterator.cpp).
  */
object TopK {

  /** (v1, i1) strictly before (v2, i2) in ascending (value, id) order. */
  @inline def before(v1: Double, i1: Long, v2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(v1, v2)
    c < 0 || (c == 0 && i1 < i2)
  }

  /** Array-backed binary heap of (value, id) pairs under the (value, id)
    * order above; `maxFirst` keeps the largest pair at the root, otherwise
    * the smallest. Grows on demand; no allocation per pair. */
  private[vector] class PairHeap(initialCap: Int, maxFirst: Boolean) {
    protected var vs = new Array[Double](math.max(initialCap, 1))
    protected var ids = new Array[Long](math.max(initialCap, 1))
    protected var n = 0

    final def size: Int = n
    final def isEmpty: Boolean = n == 0
    final def clear(): Unit = n = 0
    final def topValue: Double = vs(0)
    final def topId: Long = ids(0)

    @inline private def above(a: Int, b: Int): Boolean =
      if (maxFirst) before(vs(b), ids(b), vs(a), ids(a))
      else before(vs(a), ids(a), vs(b), ids(b))
    private def swap(a: Int, b: Int): Unit = {
      val tv = vs(a); vs(a) = vs(b); vs(b) = tv
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
    final protected def siftDown(from: Int, end: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var m = i
        if (l < end && above(l, m)) m = l
        if (l + 1 < end && above(l + 1, m)) m = l + 1
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

    final def push(v: Double, id: Long): Unit = {
      if (n == vs.length) {
        vs = java.util.Arrays.copyOf(vs, n * 2)
        ids = java.util.Arrays.copyOf(ids, n * 2)
      }
      var i = n
      vs(i) = v; ids(i) = id; n += 1
      while (i > 0 && above(i, (i - 1) >> 1)) {
        swap(i, (i - 1) >> 1); i = (i - 1) >> 1
      }
    }

    /** Remove the root. */
    final def pop(): Unit = {
      n -= 1
      if (n > 0) { vs(0) = vs(n); ids(0) = ids(n); siftDown(0, n) }
    }

    final protected def replaceTop(v: Double, id: Long): Unit = {
      vs(0) = v; ids(0) = id; siftDown(0, n)
    }
  }

  /** Keep the `cap` smallest (value, id) pairs: a max-first [[PairHeap]]
    * whose root is the worst pair kept — O(1) reject of a pair no better
    * than it (the common case once warm), O(log cap) insert, nothing
    * allocated per pair. [[sortInPlace]] ends its life as a heap: it
    * heapsorts the entries ascending, readable through [[value]]/[[id]]. */
  private[vector] final class BoundedTopK(cap: Int)
      extends PairHeap(math.min(cap, 64), maxFirst = true) {
    require(cap > 0, s"top-k needs k > 0, got $cap")

    def isFull: Boolean = n == cap

    /** Whether [[offer]] would keep (v, id). */
    def admits(v: Double, id: Long): Boolean =
      n < cap || before(v, id, vs(0), ids(0))

    def offer(v: Double, id: Long): Unit =
      if (n < cap) push(v, id)
      else if (before(v, id, vs(0), ids(0))) replaceTop(v, id)

    def mergeFrom(o: BoundedTopK): Unit = {
      var i = 0
      while (i < o.n) { offer(o.vs(i), o.ids(i)); i += 1 }
    }

    /** Heapsort in place: afterwards entries 0 until [[size]] ascend, and
      * the heap accepts no further offers. */
    def sortInPlace(): this.type = {
      var end = n - 1
      while (end > 0) {
        val tv = vs(0); vs(0) = vs(end); vs(end) = tv
        val ti = ids(0); ids(0) = ids(end); ids(end) = ti
        siftDown(0, end)
        end -= 1
      }
      this
    }
    def value(i: Int): Double = vs(i)
    def id(i: Int): Long = ids(i)

    def serialize(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * n)
      bb.putInt(n)
      var i = 0
      while (i < n) { bb.putDouble(vs(i)); bb.putLong(ids(i)); i += 1 }
      bb.array()
    }
  }

  private[vector] object BoundedTopK {
    /** Inverse of [[BoundedTopK.serialize]]: the stored order is already
      * a valid heap. */
    def deserialize(cap: Int, bytes: Array[Byte]): BoundedTopK = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val h = new BoundedTopK(cap)
      val n = bb.getInt()
      var i = 0
      while (i < n) { h.push(bb.getDouble(), bb.getLong()); i += 1 }
      h
    }
  }

  private val pairType = StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))

  /** Grouped top-k aggregate over (`id` long, `value` double) inputs:
    * returns the k smallest pairs as an ascending array of
    * (dist, id) structs. A [[BoundedTopK]] is the buffer on both sides of
    * the shuffle; rows with a null id or value are skipped. */
  private[vector] final case class TopKAgg(id: Expression, value: Expression,
                                           k: Int,
                                           mutableAggBufferOffset: Int = 0,
                                           inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[BoundedTopK]
      with BinaryLike[Expression] {
    require(k > 0, s"top-k needs k > 0, got $k")
    override def left: Expression = id
    override def right: Expression = value
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(pairType, containsNull = false)
    override def prettyName: String = "graft_topk"

    override def createAggregationBuffer(): BoundedTopK = new BoundedTopK(k)
    override def update(buf: BoundedTopK, row: InternalRow): BoundedTopK = {
      val v = value.eval(row)
      val i = id.eval(row)
      if (v != null && i != null)
        buf.offer(v.asInstanceOf[Double], i.asInstanceOf[Long])
      buf
    }
    override def merge(buf: BoundedTopK, other: BoundedTopK): BoundedTopK = {
      buf.mergeFrom(other)
      buf
    }
    override def eval(buf: BoundedTopK): Any = {
      buf.sortInPlace()
      new GenericArrayData(Array.tabulate[Any](buf.size)(j =>
        InternalRow(buf.value(j), buf.id(j))))
    }
    override def serialize(buf: BoundedTopK): Array[Byte] = buf.serialize()
    override def deserialize(bytes: Array[Byte]): BoundedTopK =
      BoundedTopK.deserialize(k, bytes)

    override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(newLeft: Expression,
                                                   newRight: Expression): TopKAgg =
      copy(id = newLeft, value = newRight)
  }

  /** [[TopKAgg]] as a column over (`id`, `value`), cast to (long, double). */
  private def topK(id: Column, value: Column, k: Int): Column =
    Bridge.column(TopKAgg(Bridge.expression(id.cast(LongType)),
      Bridge.expression(value.cast(DoubleType)), k).toAggregateExpression())

  /** Grouped top-k of `df` by `key`, exploded to (key, id, value, rn) rows
    * with rn in 1..k — the shared tail of [[topKPairs]] and [[perGroup]]. */
  private def explodeTopK(df: DataFrame, key: Column, keyName: String,
                          id: Column, value: Column, k: Int,
                          idName: String, valueName: String): DataFrame =
    df.groupBy(key.as(keyName))
      .agg(topK(id, value, k).as("__topk"))
      .select(col(keyName), posexplode(col("__topk")).as(Seq("pos", "pair")))
      .select(col(keyName), col("pair.id").as(idName),
        col("pair.dist").as(valueName), (col("pos") + 1).as("rn"))

  /** Shared tail of the KNN-join family: grouped top-k over a scored
    * (`__qid`, `__cid`, `__dist`) frame via the bounded aggregate —
    * map-side partials cap the shuffle at k rows per (query, partition).
    * Returns (`qIdCol`, `cIdCol`, dist, rn) best-first, corpus-id
    * tiebreak. */
  private[vector] def topKPairs(scored: DataFrame, qIdCol: String,
                                cIdCol: String, k: Int): DataFrame = {
    // the result carries fixed (dist, rn) columns and builds through
    // (pos, pair) intermediates: caller-chosen id names colliding with
    // them would emit duplicate/ambiguous output columns (review r18-8)
    val reserved = Set("pos", "pair", "dist", "rn")
    require(!reserved.contains(qIdCol) && !reserved.contains(cIdCol),
      s"id column names must avoid ${reserved.mkString("/")}: " +
        s"got ($qIdCol, $cIdCol)")
    explodeTopK(scored, col("__qid").cast(LongType), qIdCol,
      col("__cid"), col("__dist"), k, cIdCol, "dist")
  }

  /** Top-k rows per group: returns (group, id, value, rn) with rn in 1..k.
    * The group column is cast to string (the corpus use case). */
  def perGroup(df: DataFrame, groupCol: String, idCol: String,
               valueCol: String, k: Int): DataFrame = {
    val reserved = Set("pos", "pair", "rn")
    val names = Seq(groupCol, idCol, valueCol)
    require(names.distinct.size == 3 && !names.exists(reserved.contains),
      s"perGroup column names must be distinct and avoid " +
        s"${reserved.mkString("/")}: got $names")
    explodeTopK(df, col(groupCol).cast(StringType), groupCol,
      col(idCol), col(valueCol), k, idCol, valueCol)
  }
}
