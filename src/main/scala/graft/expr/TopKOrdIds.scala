package graft.expr

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a native aggregate: the k (ord, id) pairs
  * ranked first by (ord asc|desc, id asc), emitted in rank order as
  * array<struct<ord: double, id: bigint>>.
  *
  * This replaces the salted TWO-PHASE window rank (rankPerQuery /
  * rerankTopK): the window spelling needs two exchanges and two sorts
  * (per-(group, salt) local rank, then the global re-rank), because a
  * plain window over a low-cardinality group key would sort one mega
  * partition. A TypedImperativeAggregate gets the same boundedness from
  * partial aggregation itself — every map task ships AT MOST k pairs per
  * group, so the single exchange carries O(groups × k × tasks) no matter
  * how many candidates a group has, and nothing sorts row-by-row
  * downstream (each buffer is a k-bounded binary heap; the final sort is
  * k log k per group).
  *
  * Ordering parity with the window spelling it replaces (spec-pinned):
  * doubles compare like Spark's SortOrder after NormalizeFloatingNumbers —
  * -0.0 equals +0.0, NaN is the LARGEST double (ranks first under desc,
  * last under asc) — with ties broken by id ascending. Null ord/id rows
  * are ignored (the replaced spellings never produce them: cosine/adc
  * over non-null same-length vectors are non-null; ANSI division turns
  * the 0/0 case into an error, not a null). The inputs must already be
  * (double, bigint): any other type fails analysis (no implicit cast).
  */
case class TopKOrdIds(
    ord: Expression,
    id: Expression,
    k: Int,
    desc: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKOrdIds.Buf]
  with BinaryLike[Expression] with ExpectsInputTypes {

  require(k >= 1, s"k=$k must be >= 1")

  override def left: Expression = ord
  override def right: Expression = id

  override def prettyName: String = "graft_topk_ord_ids"

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKOrdIds.Buf =
    new TopKOrdIds.Buf(k, desc)

  override def update(buf: TopKOrdIds.Buf, input: InternalRow): TopKOrdIds.Buf = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null)
      buf.offer(o.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKOrdIds.Buf, other: TopKOrdIds.Buf): TopKOrdIds.Buf = {
    var i = 0
    while (i < other.size) { buf.offer(other.ords(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKOrdIds.Buf): Any = {
    val ranked = buf.ranked()
    val out = new Array[Any](ranked.length)
    var i = 0
    while (i < ranked.length) {
      out(i) = InternalRow(ranked(i)._1, ranked(i)._2)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKOrdIds.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.ords(i)); bb.putLong(buf.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKOrdIds.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKOrdIds.Buf(k, desc)
    var i = 0
    while (i < n) { buf.offer(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKOrdIds =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKOrdIds =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKOrdIds =
    copy(ord = newLeft, id = newRight)
}

object TopKOrdIds {

  /** k-bounded binary heap whose ROOT is the currently-WORST kept pair, so
    * a better candidate replaces the root in O(log k); `ranked()` sorts
    * the survivors best-first. */
  final class Buf(k: Int, desc: Boolean) {
    val ords = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0

    /** Spark SortOrder semantics on normalized doubles: -0.0 == +0.0, NaN
      * largest; `desc` flips the double leg only — ties always break by id
      * ascending. Returns true when (o1, i1) ranks strictly BEFORE
      * (o2, i2). */
    private def before(o1: Double, i1: Long, o2: Double, i2: Long): Boolean = {
      val c0 = java.lang.Double.compare(
        if (o1 == 0.0) 0.0 else o1, if (o2 == 0.0) 0.0 else o2)
      val c = if (desc) -c0 else c0
      if (c != 0) c < 0 else i1 < i2
    }

    // heap order: parent ranks AFTER (or equal to) children — root = worst
    private def heapAfter(a: Int, b: Int): Boolean =
      !before(ords(a), ids(a), ords(b), ids(b))

    private def swap(a: Int, b: Int): Unit = {
      val o = ords(a); ords(a) = ords(b); ords(b) = o
      val i = ids(a); ids(a) = ids(b); ids(b) = i
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && heapAfter(i, (i - 1) / 2)) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    }

    private def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = 2 * i + 2
        var m = i
        if (l < size && heapAfter(l, m)) m = l
        if (r < size && heapAfter(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

    def offer(o: Double, id: Long): Unit =
      if (size < k) {
        ords(size) = o; ids(size) = id; size += 1; siftUp(size - 1)
      } else if (before(o, id, ords(0), ids(0))) {
        ords(0) = o; ids(0) = id; siftDown()
      }

    def ranked(): Array[(Double, Long)] = {
      val out = Array.tabulate(size)(i => (ords(i), ids(i)))
      scala.util.Sorting.stableSort(out,
        (a: (Double, Long), b: (Double, Long)) =>
          before(a._1, a._2, b._1, b._2))
      out
    }
  }

  def apply(ord: Column, id: Column, k: Int, desc: Boolean): Column =
    GraftSqlBridge.column(
      new TopKOrdIds(GraftSqlBridge.expression(ord),
        GraftSqlBridge.expression(id), k, desc).toAggregateExpression())
}
