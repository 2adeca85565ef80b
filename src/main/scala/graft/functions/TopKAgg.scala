package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Grouped top-k as a NATIVE partial aggregate. The usual formulation —
  * window `row_number() ≤ k` — shuffles EVERY row to sort within keys; this
  * aggregate keeps a bounded k-heap per key on the map side, so the shuffle
  * ships at most k rows per (partition, key). At 100 TB with k=10 that is
  * the difference between shuffling the corpus and shuffling a rounding
  * error. Runs under ObjectHashAggregate (Spark's TypedImperativeAggregate
  * path) with ordinary partial/final merge semantics.
  *
  * Ordering: primary `ord` DESC (take largest), ties broken by `tie` ASC —
  * deterministic results for oracle comparison whenever (ord, tie) is
  * unique per key.
  */
object TopKAgg {

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  /** array<payloadStruct> of the k rows with the largest `ord` per group,
    * sorted (ord desc, tie asc).
    */
  def topK(k: Int, ord: Column, tie: Column, payload: Column): Column =
    toCol(TopKRowsAgg(toExpr(ord), toExpr(tie), toExpr(payload), k)
      .toAggregateExpression())
}

/** Heap entry: sort keys + the serialized payload row. */
private[functions] final case class TopKEntry(ord: Double, tie: Double, row: Array[Byte])

case class TopKRowsAgg(ordE: Expression, tieE: Expression, payloadE: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[TopKEntry]] {

  require(k > 0, "topK: k must be positive")
  private def payloadType: StructType = payloadE.dataType.asInstanceOf[StructType]

  override def children: Seq[Expression] = Seq(ordE, tieE, payloadE)
  override def dataType: DataType = ArrayType(payloadType, containsNull = false)
  override def nullable: Boolean = false

  // min-heap on (ord asc, tie desc): the head is the WORST kept entry, so
  // a full heap evicts in O(log k) when a better row arrives
  private val ordering: Ordering[TopKEntry] = Ordering.by(e => (-e.ord, e.tie))

  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[TopKEntry] =
    scala.collection.mutable.PriorityQueue.empty(ordering)

  @transient private lazy val proj = UnsafeProjection.create(payloadType)

  override def update(buf: scala.collection.mutable.PriorityQueue[TopKEntry],
                      input: InternalRow): scala.collection.mutable.PriorityQueue[TopKEntry] = {
    val o = ordE.eval(input)
    if (o != null) {
      val ord = o match {
        case d: Double => d; case f: Float => f.toDouble
        case l: Long => l.toDouble; case i: Int => i.toDouble
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(s"topK: non-numeric ord $other")
      }
      val t = tieE.eval(input)
      val tie = if (t == null) 0.0 else t match {
        case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
        case n: Number => n.doubleValue(); case _ => 0.0
      }
      val keep = buf.size < k || {
        val worst = buf.head
        ord > worst.ord || (ord == worst.ord && tie < worst.tie)
      }
      if (keep) {
        val p = payloadE.eval(input).asInstanceOf[InternalRow]
        val bytes = proj(p).copy().getBytes
        buf.enqueue(TopKEntry(ord, tie, bytes))
        if (buf.size > k) buf.dequeue()
      }
    }
    buf
  }

  override def merge(a: scala.collection.mutable.PriorityQueue[TopKEntry],
                     b: scala.collection.mutable.PriorityQueue[TopKEntry]) = {
    b.foreach { e =>
      val keep = a.size < k || {
        val worst = a.head
        e.ord > worst.ord || (e.ord == worst.ord && e.tie < worst.tie)
      }
      if (keep) { a.enqueue(e); if (a.size > k) a.dequeue() }
    }
    a
  }

  override def eval(buf: scala.collection.mutable.PriorityQueue[TopKEntry]): Any = {
    val sorted = buf.toArray.sortBy(e => (-e.ord, e.tie))
    new GenericArrayData(sorted.map { e =>
      val r = new UnsafeRow(payloadType.length)
      r.pointTo(e.row, e.row.length)
      r
    }.toArray[Any])
  }

  override def serialize(buf: scala.collection.mutable.PriorityQueue[TopKEntry]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { e =>
      out.writeDouble(e.ord); out.writeDouble(e.tie)
      out.writeInt(e.row.length); out.write(e.row)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[TopKEntry] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val ord = in.readDouble(); val tie = in.readDouble()
      val len = in.readInt(); val arr = new Array[Byte](len)
      in.readFully(arr)
      buf.enqueue(TopKEntry(ord, tie, arr))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRowsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKRowsAgg =
    copy(ordE = newChildren(0), tieE = newChildren(1), payloadE = newChildren(2))
  override def prettyName: String = "graft_topk"
}
