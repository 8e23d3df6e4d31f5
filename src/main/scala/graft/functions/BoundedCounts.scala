package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType}

/** Value → row-count map with a hard cap on the number of distinct keys:
  * once the buffer holds `cap` keys it admits no new ones (it still counts
  * the ones it holds), so a high-cardinality column (ids, free text) can
  * never flood executor memory or the driver row.
  *
  * Callers that only need the exact counts when the column has few
  * distinct values (category discovery, dummy detection, medians and
  * modes by counting) get exactly that contract:
  *
  *  - true distinct ≤ cap−1 → no partial buffer ever saturates, every row
  *    is counted, merge is an exact key-union with summed counts → result
  *    is the exact value → count map;
  *  - true distinct ≥ cap  → some merge step necessarily reaches `cap`
  *    keys (every buffered key is a real distinct value, and the union
  *    grows until the cap halts it) → result size == cap, which callers
  *    read as the overflow signal (its counts are then meaningless).
  *
  * Keys follow Spark's grouping semantics, not `collect_set`'s: -0.0 counts
  * as 0.0 and every NaN is the same key (`collect_set` keeps one NaN per
  * row). Nulls are skipped. The buffer round-trips as a single-column
  * UnsafeRow holding a map of the child type to long.
  */
case class BoundedCounts(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[Any, BoundedCounts.Cell]] with UnaryLike[Expression] {

  import BoundedCounts.{Cell, normalize}

  require(cap > 0, s"cap must be positive, got $cap")

  override def prettyName: String = "bounded_counts"
  override def dataType: DataType = MapType(child.dataType, LongType, valueContainsNull = false)
  override def nullable: Boolean  = false

  override def createAggregationBuffer(): java.util.HashMap[Any, Cell] = new java.util.HashMap[Any, Cell]()

  // a new key is copied out of the (reused) input row before buffering
  private def add(buffer: java.util.HashMap[Any, Cell], key: Any, n: Long): Unit = {
    val cell = buffer.get(key)
    if (cell != null) cell.n += n
    else if (buffer.size < cap) buffer.put(InternalRow.copyValue(key), new Cell(n))
  }

  override def update(buffer: java.util.HashMap[Any, Cell], input: InternalRow): java.util.HashMap[Any, Cell] = {
    val v = child.eval(input)
    if (v != null) add(buffer, normalize(v), 1L)
    buffer
  }

  override def merge(
      buffer: java.util.HashMap[Any, Cell],
      other: java.util.HashMap[Any, Cell]): java.util.HashMap[Any, Cell] = {
    other.forEach((k, c) => add(buffer, k, c.n))
    buffer
  }

  private def mapData(buffer: java.util.HashMap[Any, Cell]): ArrayBasedMapData = {
    val keys   = new Array[Any](buffer.size)
    val counts = new Array[Any](buffer.size)
    var i      = 0
    buffer.forEach { (k, c) =>
      keys(i) = k
      counts(i) = c.n
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(counts))
  }

  override def eval(buffer: java.util.HashMap[Any, Cell]): Any = mapData(buffer)

  private lazy val projection = UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buffer: java.util.HashMap[Any, Cell]): Array[Byte] =
    projection.apply(InternalRow(mapData(buffer))).getBytes

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[Any, Cell] = {
    val buffer = createAggregationBuffer()
    val row    = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val m      = row.getMap(0)
    val counts = m.valueArray()
    m.keyArray().foreach(child.dataType, (i: Int, k: Any) => add(buffer, k, counts.getLong(i)))
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCounts =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCounts =
    copy(child = newChild)
}

object BoundedCounts {

  /** A mutable count, so a hit costs no boxing. */
  final class Cell(var n: Long) extends Serializable

  /** Spark's grouping-key normalization of floating-point values: -0.0
    * becomes 0.0. (Boxed `equals` already makes every NaN one key.)
    */
  def normalize(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f  => java.lang.Float.valueOf(0.0f)
    case _                                              => v
  }

  /** Column wrapper: `bounded_counts(c, cap)`, a `map<type(c), bigint>`.
    * Size == `cap` signals "more than cap−1 distinct values" (overflow);
    * smaller maps are the exact value → count map.
    */
  def apply(c: Column, cap: Int): Column =
    GraftSqlBridge.column(
      new BoundedCounts(GraftSqlBridge.expression(c), cap).toAggregateExpression())
}
