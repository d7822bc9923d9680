package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch state: the k smallest
  * DISTINCT hash values seen so far (Bar-Yossef et al. 2002). Bounded
  * at k longs regardless of input size; merge = union + re-truncate. */
final class KmvBuffer(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()
  def add(v: Long): Unit =
    if (set.size < k) { set.add(v); () }
    else if (v < set.last) { if (set.add(v)) { set.pollLast(); () } }
  def mergeFrom(o: KmvBuffer): Unit = o.set.forEach(v => add(v))
}

/** Native KMV aggregate — `kmv_sketch(hash_col, k)` returns the ≤k
  * smallest distinct longs, ascending.
  *
  * This is the aggregate the gate query qd13 CANNOT be at 100 TB: an
  * exact per-group `count(DISTINCT h)` shuffles every distinct hash to
  * its group's reducer, while this sketch's partial-aggregation state
  * is k longs per (partition, group) — the map-side combine tree Spark
  * already runs for every agg makes it lake-scale for free. Estimate
  * from the result: `size < k → size` (exact), else
  * `(k-1)·2^60 / last` for 60-bit hashes.
  *
  * Deterministic by construction (a set minimum is order-free), so the
  * sketch path and qd13's exact-window path agree on the k-th hash
  * bit-for-bit — asserted in `KmvSketchSpec`.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(k > 0, s"kmv_sketch needs k > 0, got $k")

  // fail at analysis, not as an executor-side ClassCastException
  override def inputTypes: Seq[DataType] =
    Seq(LongType)

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(b: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }

  override def merge(b: KmvBuffer, o: KmvBuffer): KmvBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: KmvBuffer): Any = {
    val arr = new Array[Long](b.set.size)
    var i = 0
    b.set.forEach { v => arr(i) = v; i += 1 } // TreeSet iterates ascending
    new GenericArrayData(arr)
  }

  override def serialize(b: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * b.set.size)
    bb.putInt(b.set.size)
    b.set.forEach(v => bb.putLong(v))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new KmvBuffer(k)
    var i = 0
    while (i < n) { b.add(bb.getLong); i += 1 }
    b
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvAgg =
    copy(child = c)

  override def prettyName: String = "kmv_sketch"
}

object KmvSketch {
  import org.apache.spark.sql.GraftShim

  /** 2^60 — the hash space of a 15-hex-nibble md5 prefix; exact in
    * double. The single definition every KMV path derives from. */
  val Space60: Double = 1.152921504606847e18

  /** Column-API entry: ≤k smallest distinct longs of `c`, ascending. */
  def kmvSketch(c: Column, k: Int): Column =
    GraftShim.column(
      KmvAgg(GraftShim.expression(c), k).toAggregateExpression())

  /** Cardinality estimate from a sketch array over a 60-bit hash space:
    * exact size when the group never filled the sketch, else the KMV
    * estimator (k-1)·2^60 / h_(k). Pure integer/IEEE column math. */
  def estimate(sketch: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble) * lit(Space60)
        / element_at(sketch, k)))
  }
}
