package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one aggregate pass learned about one column.
  *
  * @param nonNull    non-null row count
  * @param sum        float columns: `sum(c)`, accumulated row by row in the
  *                   aggregate (so `sum / nonNull` is bit-for-bit `avg(c)`);
  *                   None for other columns, for an all-null column, and for
  *                   values derived on the driver
  * @param fractional float columns: whether any value is non-integral or
  *                   beyond ±2^53 (a cast to long would change it)
  * @param counts     bounded value → row-count map
  *                   ([[graft.functions.BoundedCounts]]); a map of at least
  *                   the profile's `cap` entries means overflow
  */
final case class ColumnProfile(
    nonNull: Long,
    sum: Option[Double] = None,
    fractional: Option[Boolean] = None,
    counts: Option[Map[Any, Long]] = None)

/** Per-column statistics of exactly one DataFrame, learned in ONE
  * aggregate job: the row count, each column's non-null count, the sum and
  * fractional flag of each float column, and a bounded value → count map
  * per counted column. Column types, category sets, fill values (means,
  * exact medians, modes) are all functions of it, so `CleanData`,
  * `EncodeData` and `WrangleNa.fi` read it instead of each running their
  * own stat job (operator fusion across the stages' standalone APIs).
  *
  * The profile is bound to the DataFrame it describes by reference
  * equality: [[GraftFrame.profile]] yields it only while the frame's `df`
  * IS `df`, so any `mapDf` or `copy` to another frame drops it without
  * extra code. A stage that knows how its output relates to its input
  * retargets it explicitly (`copy(df = out, cols = …)`).
  *
  * `cols` may lack a column (nothing known) or an entry's field (that fact
  * unknown); readers aggregate only what is missing.
  */
final case class Profile(df: DataFrame, rows: Long, cap: Int, cols: Map[String, ColumnProfile]) {

  /** Value → count map of `c` valid at `cap` (≤ this profile's cap): a map
    * under `cap` entries is exact, a larger one means overflow. None when
    * the column was not counted or only at a smaller cap.
    */
  def counts(c: String, cap: Int = this.cap): Option[Map[Any, Long]] =
    if (cap > this.cap) None else cols.get(c).flatMap(_.counts)

  /** The exact value → count map of `c`, if it has fewer than `cap` values. */
  def exact(c: String): Option[Map[Any, Long]] = counts(c).filter(_.size < cap)
}

object Profile {

  /** `maxCategories + 1` at the stages' default `maxCategories` (10000). */
  val DefaultCap: Int = 10001

  /** Types whose values are counted: the category / dummy / median / mode
    * candidates.
    */
  def countable(dt: DataType): Boolean = dt match {
    case StringType | BooleanType => true
    case _: NumericType           => true
    case _                        => false
  }

  private def isFloat(dt: DataType) = dt == DoubleType || dt == FloatType

  /** True where the value is non-integral or beyond ±2^53 — where a cast
    * to long would not round-trip.
    */
  def fractional(c: Column): Column =
    c =!= floor(c) || abs(c) > lit(9.007199254740992e15)

  /** ONE aggregate job over `df`: row count, every column's non-null count,
    * each float column's sum and fractional flag, and a bounded value →
    * count map (at `cap`) for each of `countCols`.
    */
  def of(df: DataFrame, countCols: Seq[String], cap: Int = DefaultCap): Profile = {
    val fields = df.schema.fields.toIndexedSeq
    val floats = fields.filter(f => isFloat(f.dataType)).map(_.name)
    val aggs: Seq[Column] =
      Seq(count(lit(1))) ++
        fields.map(f => count(Cols.q(f.name))) ++
        floats.flatMap(c =>
          Seq(sum(Cols.q(c)), max(when(fractional(Cols.q(c)), lit(1)).otherwise(lit(0))))) ++
        countCols.map(c => graft.functions.BoundedCounts(Cols.q(c), cap))
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"p$i") }
    val row   = Jobs.collectFast(df.agg(named.head, named.tail: _*))(0)

    val nonNull = fields.indices.map(i => fields(i).name -> row.getLong(1 + i)).toMap
    val floatAt = 1 + fields.size
    val floatFacts = floats.zipWithIndex.map { case (c, i) =>
      val s    = row.get(floatAt + 2 * i)
      val frac = row.get(floatAt + 2 * i + 1)
      c -> (Option(s).map(_.asInstanceOf[Double]), frac != null && frac.asInstanceOf[Int] == 1)
    }.toMap
    val countAt = floatAt + 2 * floats.size
    val counts = countCols.zipWithIndex.map { case (c, i) =>
      c -> row.getMap[Any, Long](countAt + i).toMap
    }.toMap

    val cols = fields.map { f =>
      val c = f.name
      f.name -> ColumnProfile(
        nonNull(c),
        floatFacts.get(c).flatMap(_._1),
        floatFacts.get(c).map(_._2),
        counts.get(c))
    }.toMap
    Profile(df, row.getLong(0), cap, cols)
  }

  /** Counts re-keyed through `key`, merging keys that collide (`"1"` and
    * `"1.0"` both parse to 1.0). Keys merge by boxed `equals` after
    * grouping normalization, as [[graft.functions.BoundedCounts]] keys do.
    */
  def rekey(counts: Map[Any, Long])(key: Any => Any): Map[Any, Long] = {
    val m = new java.util.HashMap[Any, Long]()
    counts.foreach { case (k, n) =>
      m.merge(graft.functions.BoundedCounts.normalize(key(k)), n, (a: Long, b: Long) => a + b)
    }
    val out = Map.newBuilder[Any, Long]
    m.forEach((k, n) => out += (k -> n))
    out.result()
  }

  /** Evaluate `f(v)` for each of `values` (of type `dt`) with Spark's own
    * expression semantics — string parsing, NaN, ANSI errors — but no
    * job: a projection over a local relation is folded on the driver.
    * One row per value, in order.
    */
  def evalLocal(df: DataFrame, dt: DataType, values: Seq[Any])(f: Column => Seq[Column]): IndexedSeq[Row] =
    if (values.isEmpty) IndexedSeq.empty
    else {
      val rows  = java.util.Arrays.asList(values.map(v => Row(v)): _*)
      val local = df.sparkSession.createDataFrame(rows, StructType(Seq(StructField("v", dt))))
      local.select(f(col("v")): _*).collect().toIndexedSeq
    }
}
