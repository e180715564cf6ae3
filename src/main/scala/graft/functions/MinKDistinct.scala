package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** The k smallest DISTINCT longs seen so far. Values append to a
  * buffer of at most 2k slots; a full buffer is compacted (sort, dedup,
  * cut to k), so an update costs O(log k) amortized and memory stays
  * O(k) however many values pass. Once k values are kept, a value not
  * below the k-th is dropped on arrival. The buffer starts small and
  * doubles, so a group with few values never pays for k slots.
  */
final class MinK private (val k: Int, private var xs: Array[Long], private var n: Int) {
  require(k >= 1, s"min-k needs k >= 1, got $k")
  // `bound` is the k-th smallest kept value, valid once `full`
  private var full = false
  private var bound = 0L
  compact()

  def this(k: Int) = this(k, new Array[Long](math.min(2 * k, 16)), 0)

  def add(v: Long): Unit =
    if (!full || v < bound) {
      if (n == xs.length) {
        compact()
        if (2 * n > xs.length) xs = java.util.Arrays.copyOf(xs, math.min(2 * xs.length, 2 * k))
      }
      xs(n) = v
      n += 1
    }

  def addAll(o: MinK): Unit = {
    val vs = o.sorted
    var i = 0
    while (i < vs.length) { add(vs(i)); i += 1 }
  }

  /** The kept values, ascending and distinct: at most k of them. */
  def sorted: Array[Long] = { compact(); java.util.Arrays.copyOf(xs, n) }

  def toBytes: Array[Byte] = {
    val vs = sorted
    val bb = java.nio.ByteBuffer.allocate(8 * vs.length)
    bb.asLongBuffer().put(vs)
    bb.array()
  }

  private def compact(): Unit = {
    java.util.Arrays.sort(xs, 0, n)
    var m = 0
    var i = 0
    while (i < n && m < k) {
      if (m == 0 || xs(i) != xs(m - 1)) { xs(m) = xs(i); m += 1 }
      i += 1
    }
    n = m
    if (n == k) { full = true; bound = xs(k - 1) }
  }
}

object MinK {
  def fromBytes(k: Int, bytes: Array[Byte]): MinK = {
    val vs = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(vs)
    new MinK(k, if (vs.isEmpty) new Array[Long](1) else vs, vs.length)
  }
}

/** AGGREGATE min-k of distinct hashes — `graft_min_k_distinct(h, k)`:
  * per group, the k smallest distinct non-null BIGINT inputs as a
  * `array<bigint>`, ascending. A group with no non-null input yields
  * the empty array, never NULL, so a sketch keeps every group of its
  * input.
  *
  * This is the KMV sketch (Beyer et al., SIGMOD 2007) as one
  * aggregate: min-k of a union is the min-k of the parts' min-k, so
  * update and merge are the same bounded insert and partial
  * aggregation applies. Each partial buffer holds at most k values
  * after serialization, so what crosses an exchange is O(k) per group
  * however many rows the group has.
  */
case class MinKDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MinK] {

  override def prettyName: String = "graft_min_k_distinct"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1) TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1, got $k")
    else child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): MinK = new MinK(k)

  override def update(buffer: MinK, input: InternalRow): MinK = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: MinK, other: MinK): MinK = { buffer.addAll(other); buffer }

  override def eval(buffer: MinK): Any = UnsafeArrayData.fromPrimitiveArray(buffer.sorted)

  override def serialize(buffer: MinK): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): MinK = MinK.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): MinKDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinKDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
