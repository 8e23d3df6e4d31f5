package graft.na

import graft.core.{Cols, GraftFrame}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Missing-value handling — reference `wrangle_na`
  * (`/root/reference/src/tasks.py:313–472`). Strategies:
  *
  *  - `cc` complete-case: drop any row containing a null (tasks.py:381–383).
  *  - `fi` fill-in: float columns ← mean, integer columns ← exact median,
  *    boolean/categorical columns ← deterministic mode where ties break to
  *    the SMALLEST value in sort order — pandas `DataFrame.mode().loc[0]`
  *    (tasks.py:398–421). If the frame has no nulls at all the input is
  *    returned unchanged (tasks.py:372–379).
  *  - `fii` fill-in + indicators: `fi` plus one boolean dummy per observed
  *    null-pattern bitstring over the columns in column order, named
  *    `na_<bits>`, all-zeros pattern omitted (tasks.py:385–396). Indicators
  *    reflect PRE-imputation nulls appended to the imputed frame.
  *  - `gm` grand-model: `fii` plus feature × indicator interaction columns
  *    (tasks.py:423–441); see [[Interactions]].
  *
  * Scale design: `fi` reads its fill statistics (null counts, means,
  * exact medians, modes) from the [[graft.core.Profile]] that `CleanData`
  * attaches and `EncodeData` carries over, so after those stages it runs
  * no job at all. Whatever the profile lacks (no profile, a column with
  * too many distinct values for exact counts, a derived column) comes from
  * at most ONE aggregate job (means + exact percentiles + null counts) and
  * one melted groupBy job over only the mode-typed columns. The fill itself
  * is a pure projection (`coalesce`), so the imputation composes lazily with
  * the surrounding plan. Exact `percentile` is used here (oracle mode);
  * `percentile_approx` is the documented switch for the 100 TB path
  * (SURVEY.md §7.4.5).
  */
object WrangleNa {

  private def isIntegral(dt: DataType) = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }
  private def isFloat(dt: DataType) = dt == DoubleType || dt == FloatType

  /** Complete-case drop. Row identity: callers that need pandas-style
    * surviving row labels should carry an explicit `row_id` column from
    * ingest (SURVEY.md §7.4.2) — the drop preserves it like any other column.
    */
  def cc(gf: GraftFrame, cols: Seq[String] = Nil): GraftFrame =
    gf.mapDf(df => if (cols.isEmpty) df.na.drop() else df.na.drop(cols))

  /** Computed fill values for `fi`, read from the frame's attached
    * [[graft.core.Profile]] where it has them (null counts; means as
    * sum / count; exact medians and modes from exact value counts). Only
    * what it lacks is aggregated: one agg job for null counts, means and
    * medians, one melted job for modes. `mode` flips the integer-median
    * statistic between exact `percentile` (oracle runs) and
    * `percentile_approx` (the 100 TB path, SURVEY.md §7.4.5), which the
    * profile never answers.
    */
  private def fillValues(
      gf: GraftFrame,
      mode: graft.core.ScaleMode): (Map[String, Any], Boolean) = {
    val df     = gf.df
    val fields = df.schema.fields.toIndexedSeq
    val prof   = gf.profile
    def known(c: String) = prof.flatMap(_.cols.get(c))

    val floatCols = fields.filter(f => isFloat(f.dataType) && !gf.cats.contains(f.name)).map(_.name)
    val intCols   = fields.filter(f => isIntegral(f.dataType) && !gf.cats.contains(f.name)).map(_.name)
    val modeCols = fields
      .filter(f => f.dataType == BooleanType || gf.cats.contains(f.name))
      .map(_.name)

    // what the profile answers: Some(None) is "known: no value" (all null)
    val knownMeans: Map[String, Option[Any]] = floatCols.flatMap { c =>
      known(c).collect {
        case cp if cp.nonNull == 0 => c -> None
        case cp if cp.sum.isDefined => c -> Some(cp.sum.get / cp.nonNull.toDouble)
      }
    }.toMap
    val knownMedians: Map[String, Option[Any]] =
      if (mode != graft.core.ScaleMode.Exact) Map.empty
      else intCols.flatMap(c => prof.flatMap(_.exact(c)).map(m => c -> median(m))).toMap

    val lacking: Seq[(String, Column)] =
      fields.filterNot(f => known(f.name).isDefined)
        .map(f => s"nulls_${f.name}" -> sum(Cols.q(f.name).isNull.cast(LongType))) ++
        floatCols.filterNot(knownMeans.contains).map(c => s"mean_$c" -> avg(Cols.q(c))) ++
        intCols.filterNot(knownMedians.contains)
          .map(c => s"med_$c" -> graft.core.Stats.percentile(Cols.q(c), 0.5, mode))
    val row = Option.when(lacking.nonEmpty) {
      val aggs = lacking.map { case (name, a) => a.as(name) }
      graft.core.Jobs.collectFast(df.agg(aggs.head, aggs.tail: _*))(0)
    }
    def aggregated(name: String): Option[Any] = row.flatMap(r => Option(r.getAs[Any](name)))

    val nulls = fields.map { f =>
      val c = f.name
      c -> known(c).map(prof.get.rows - _.nonNull).getOrElse(aggregated(s"nulls_$c").fold(0L)(_.asInstanceOf[Long]))
    }.toMap
    if (!nulls.values.exists(_ > 0)) return (Map.empty, false)

    val means   = floatCols.flatMap(c => knownMeans.getOrElse(c, aggregated(s"mean_$c")).map(c -> _))
    val medians = intCols.flatMap(c => knownMedians.getOrElse(c, aggregated(s"med_$c")).map(c -> _))

    // Deterministic mode per mode-typed column, count-desc then value-asc
    // (SURVEY.md §2 A12). Only columns that actually have nulls need a
    // mode. String and boolean columns with exact counts read them from
    // the profile; the rest melt to (col, value) for one groupBy + per-
    // column argmax — skipped entirely when no such column has nulls.
    val needMode = modeCols.filter(c => nulls(c) > 0)
    val fromProfile = needMode
      .filter(c => df.schema(c).dataType == StringType || df.schema(c).dataType == BooleanType)
      .flatMap(c => prof.flatMap(_.exact(c)).map(m => c -> m.map { case (v, n) => String.valueOf(v) -> n }))
      .toMap
    val profileModes = modes(df, fromProfile)
    val melt = needMode.filterNot(fromProfile.contains)
    val meltedModes: Seq[(String, Any)] =
      if (melt.isEmpty) Nil
      else {
        val melted = df
          .select(explode(array(melt.map(c =>
            struct(lit(c).as("c"), Cols.q(c).cast(StringType).as("v"))): _*)).as("kv"))
          .select(col("kv.c").as("c"), col("kv.v").as("v"))
          .where(col("v").isNotNull)
          .groupBy("c", "v")
          .count()
        import org.apache.spark.sql.expressions.Window
        // smallest-VALUE tie-break: numeric-castable values compare
        // numerically (the melt stringifies them, and "10" < "2" as strings
        // would break the pandas mode().loc[0] contract for numeric
        // categoricals); non-numeric values fall through to string order
        val w = Window
          .partitionBy("c")
          .orderBy(
            col("count").desc,
            expr("try_cast(v AS DOUBLE)").asc_nulls_last,
            col("v").asc)
        graft.core.Jobs
          .collectFast(melted
            .withColumn("rn", row_number().over(w))
            .where(col("rn") === 1))
          .map(r => r.getString(0) -> (r.getString(1): Any))
          .toIndexedSeq
      }
    ((means ++ medians ++ profileModes ++ meltedModes).toMap, true)
  }

  /** Spark's exact `percentile(c, 0.5)` over a value → count map: values
    * in order, position (n − 1) · 0.5, linear interpolation between the
    * values at the floor and ceiling ranks. None for an empty map.
    */
  private def median(counts: Map[Any, Long]): Option[Any] =
    if (counts.isEmpty) None
    else {
      val sorted   = counts.toSeq.map { case (v, n) => (v.asInstanceOf[Number].longValue(), n) }.sortBy(_._1)
      val position = (counts.values.sum - 1) * 0.5
      val (lower, higher) = (math.floor(position).toLong, math.ceil(position).toLong)
      val cumulative = sorted.scanLeft(0L)(_ + _._2).tail
      def at(rank: Long): Double = sorted(cumulative.indexWhere(_ > rank))._1.toDouble
      val (lo, hi) = (at(lower), at(higher))
      Some(if (lower == higher || lo == hi) lo else (higher - position) * lo + (position - lower) * hi)
    }

  /** The mode of each column's stringified value counts, ties broken as
    * the melted path's window orders them: count desc, then
    * `try_cast(v AS DOUBLE)` asc with nulls last (Spark's double order),
    * then `v` asc (Spark's binary string order). Values are parsed only
    * for columns whose top count is tied, over a local relation (no job).
    */
  private def modes(df: DataFrame, counts: Map[String, Map[String, Long]]): Seq[(String, Any)] = {
    val tied = counts.toSeq.collect { case (c, m) if m.nonEmpty =>
      val top = m.values.max
      c -> m.collect { case (v, n) if n == top => v }.toSeq
    }
    val values = tied.collect { case (_, vs) if vs.size > 1 => vs }.flatten.distinct
    val parsed = values.zip(graft.core.Profile.evalLocal(df, StringType, values)(v => Seq(v.try_cast(DoubleType))))
      .map { case (v, r) => v -> Option(r.get(0)).map(_.asInstanceOf[Double]) }.toMap
    val order: Ordering[String] = (a, b) => {
      val byNumber = (parsed.get(a).flatten, parsed.get(b).flatten) match {
        case (Some(x), Some(y)) => org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(x, y)
        case (Some(_), None)    => -1
        case (None, Some(_))    => 1
        case (None, None)       => 0
      }
      if (byNumber != 0) byNumber
      else org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    }
    tied.map { case (c, vs) => c -> (vs.min(order): Any) }
  }

  /** Fill-in imputation. Integer columns whose median is fractional are
    * promoted to double (pandas fills Int64 with a float → Float64,
    * tasks.py:357–360 post-condition).
    */
  def fi(gf: GraftFrame, mode: graft.core.ScaleMode = graft.core.ScaleMode.Exact): GraftFrame = {
    val (fills, anyNulls) = fillValues(gf, mode)
    if (!anyNulls) return gf
    gf.mapDf(applyFill(_, gf, fills))
  }

  private def applyFill(df: DataFrame, gf: GraftFrame, fills: Map[String, Any]): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      fills.get(f.name) match {
        case None => Cols.q(f.name)
        case Some(v) =>
          val fillLit = (f.dataType, v) match {
            case (BooleanType, s: String) => lit(s.toBoolean)
            case (dt, s: String) if gf.cats.contains(f.name) && !isNumericString(dt) => lit(s)
            case (dt, s: String) => lit(s).cast(dt)
            case (dt, n) if isIntegral(f.dataType) =>
              val d = n.asInstanceOf[Number].doubleValue()
              if (d == math.floor(d)) lit(d.toLong).cast(f.dataType) else lit(d)
            case _ => lit(v)
          }
          coalesce(Cols.q(f.name).cast(promoted(f.dataType, v)), fillLit.cast(promoted(f.dataType, v))).as(f.name)
      }
    }: _*)

  private def isNumericString(dt: DataType) = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** Int column + fractional median ⇒ DoubleType; otherwise keep the type. */
  private def promoted(dt: DataType, fill: Any): DataType = (dt, fill) match {
    case (t, n: Number) if isIntegral(t) && n.doubleValue() != math.floor(n.doubleValue()) => DoubleType
    case (t, _) => t
  }

  /** Null-pattern bitstring over all columns in column order. */
  private def patternCol(df: DataFrame): Column =
    concat(df.columns.toIndexedSeq.map(c => when(Cols.q(c).isNull, lit("1")).otherwise(lit("0"))): _*)

  /** Fill-in + per-pattern indicator dummies (`fii`).
    *
    * The distinct null-pattern set is worst-case 2^cols and each pattern
    * becomes a driver-side plan column, so the collect is CAPPED: at most
    * `maxPatterns + 1` distinct patterns ship to the driver (`limit` runs
    * inside the same job — executors stop early once the limit is hit),
    * and exceeding `maxPatterns` fails fast with a clear message instead of
    * OOMing the driver or building an unplannable million-column select.
    * The reference (tasks.py:385–396) has no cap — pandas materializes the
    * dummies in memory and dies the same way, just later; the default
    * (1024) is far above any real-world missingness structure.
    */
  def fii(gf: GraftFrame, maxPatterns: Int = 1024): GraftFrame = {
    val df       = gf.df
    val pat      = patternCol(df).as("__na_pattern")
    val withPat  = df.withColumn("__na_pattern", pat)
    val zeros    = "0" * df.columns.length
    // all-zeros is dropped BEFORE the limit so the cap counts only patterns
    // that would become columns (otherwise a truncated sample containing
    // zeros could silently under-report the true pattern count)
    val patterns = graft.core.Jobs
      .collectFast(withPat
        .select("__na_pattern").where(col("__na_pattern") =!= zeros)
        .distinct().limit(maxPatterns + 1)).map(_.getString(0))
      .sorted.toIndexedSeq
    if (patterns.length > maxPatterns)
      throw new IllegalArgumentException(
        s"wrangle_na fii: more than $maxPatterns distinct null patterns over " +
          s"${df.columns.length} columns — one indicator column per pattern would not be " +
          "usable as model dummies. Reduce the column set, impute the sparsest columns " +
          "first, or raise maxPatterns explicitly.")
    val imputed = fi(gf.copy(df = withPat)).df
    val withDummies = patterns.foldLeft(imputed) { (d, p) =>
      d.withColumn(s"na_$p", col("__na_pattern") === lit(p))
    }
    gf.copy(df = withDummies.drop("__na_pattern"))
  }

  /** Grand model: `fii` + feature×indicator interactions. Indicator
    * columns are matched by the exact generated shape `na_<bits>` (bit
    * count = input column count) so a pre-existing data column that merely
    * starts with "na_" is treated as a feature, not an indicator.
    */
  def gm(gf: GraftFrame): GraftFrame = {
    val before  = gf.df.columns.toIndexedSeq
    val filled  = fii(gf)
    val indPattern = s"na_[01]{${before.length}}"
    val indCols =
      filled.df.columns.toIndexedSeq.filterNot(before.contains).filter(_.matches(indPattern))
    Interactions.grandModel(filled, before, indCols)
  }

  def apply(gf: GraftFrame, strategy: String, cols: Seq[String] = Nil): GraftFrame =
    strategy match {
      case "cc"  => cc(gf, cols)
      case "fi"  => fi(gf)
      case "fii" => fii(gf)
      case "gm"  => gm(gf)
      case other => throw new IllegalArgumentException(s"unknown na strategy: $other")
    }
}
