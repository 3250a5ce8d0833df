package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, Expression, InterpretedOrdering, NullsFirst, NullsLast, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

import scala.collection.mutable.ArrayBuffer

/** Exact bounded top-k over ARBITRARY row shapes — the aggregate half of
  * the window-top-k rewrite ([[GraftRules.WindowTopKToAggregate]]).
  *
  * Input: a struct whose leading fields are the sort keys and whose
  * remaining fields are payload; `directions`/`nullsFirstFlags` give the
  * per-key sort direction exactly as the window's ORDER BY specified it.
  * Output: an array of the k least structs under that ordering (= the
  * rows `row_number() <= k` would keep), sorted.
  *
  * Why it scales where the window doesn't: a window must SORT EVERY ROW
  * of every partition to number them, then a filter discards all but k;
  * this aggregate keeps a k-bounded buffer per group, merges partial
  * buffers map-side (TypedImperativeAggregate partial-merge), and only
  * k rows per group per partition ever reach the shuffle. At 100 TB the
  * difference is a full dataset sort vs a streaming pass.
  *
  * Buffer policy: appends accumulate to 2k, then compact (sort + trim
  * to k) — amortized O(log k) per row, never more than 2k rows held.
  */
case class BoundedTopKRows(
    child: Expression,
    k: Int,
    numSortKeys: Int,
    directions: Seq[Boolean],     // per sort key: ascending?
    nullsFirstFlags: Seq[Boolean],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[InternalRow]] {

  require(k > 0, s"BoundedTopKRows: k must be positive, got $k")
  require(directions.length == numSortKeys && nullsFirstFlags.length == numSortKeys)

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "bounded_topk_rows"

  @transient private lazy val ordering: Ordering[InternalRow] = {
    val fields = structType.fields
    val sortOrders = (0 until numSortKeys).map { i =>
      SortOrder(
        BoundReference(i, fields(i).dataType, fields(i).nullable),
        if (directions(i)) Ascending else Descending,
        if (nullsFirstFlags(i)) NullsFirst else NullsLast,
        Seq.empty)
    }
    new InterpretedOrdering(sortOrders)
  }

  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def createAggregationBuffer(): ArrayBuffer[InternalRow] =
    new ArrayBuffer[InternalRow](k + 1)

  private def compact(buf: ArrayBuffer[InternalRow]): Unit =
    if (buf.length > k) {
      val kept = buf.sorted(ordering).take(k)
      buf.clear()
      buf ++= kept
    }

  override def update(buf: ArrayBuffer[InternalRow], input: InternalRow): ArrayBuffer[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      // copy through an UnsafeProjection: the input row's backing buffer
      // is reused by the iterator, and the struct may be a join row
      buf += toUnsafe(v.asInstanceOf[InternalRow]).copy()
      if (buf.length >= 2 * k) compact(buf)
    }
    buf
  }

  override def merge(buf: ArrayBuffer[InternalRow], other: ArrayBuffer[InternalRow]): ArrayBuffer[InternalRow] = {
    buf ++= other
    compact(buf)
    buf
  }

  override def eval(buf: ArrayBuffer[InternalRow]): Any = {
    val sorted = buf.sorted(ordering).take(k)
    new GenericArrayData(sorted.toArray[Any])
  }

  override def serialize(buf: ArrayBuffer[InternalRow]): Array[Byte] = {
    compact(buf)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { row =>
      val unsafe = row match {
        case u: UnsafeRow => u
        case r => toUnsafe(r)
      }
      val bytes = unsafe.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[InternalRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[InternalRow](n)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, len)
      buf += row
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BoundedTopKRows =
    copy(child = newChildren.head)
}
