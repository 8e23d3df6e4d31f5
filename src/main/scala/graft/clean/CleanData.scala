package graft.clean

import graft.core.{CategoryInfo, ColumnProfile, Cols, GraftFrame, Profile, Sanitize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Type-cleaning stage: the Spark-native re-expression of the reference's
  * `clean_data` pipeline (`/root/reference/src/tasks.py:243–272`):
  * convert_dtypes → _replace_na → _column_wrangler → _obj_wrangler →
  * _factor_wrangler → _check_model_assumptions.
  *
  * Unlike the reference (six eager full-frame passes), every step here is a
  * lazy DataFrame transform, and the data-dependent facts (parseability,
  * integer-valuedness, distinct value sets) all come from ONE
  * [[graft.core.Profile]] job over the sentinel-nulled, sanitized frame.
  * The parse, boolean, integer, dummy and category decisions are then made
  * on each column's distinct values, by evaluating the row-level Spark
  * predicates (so NaN, ±0.0 and ANSI behave as they do per row) over a
  * local relation of those values (no job). Only a string column with more than `maxCategories`
  * distinct values costs one more job, over just such columns. The output
  * carries the profile, retargeted to the output frame, for `EncodeData`
  * and `WrangleNa.fi` (job counts pinned by ScalePostureSpec tests).
  */
object CleanData {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  private def stringCols(df: DataFrame): IndexedSeq[String] =
    df.schema.fields.collect { case f if f.dataType == StringType => f.name }.toIndexedSeq

  /** The row-level parse checks, applied to a value or to a column. */
  private def asDouble(c: Column): Column = c.try_cast(DoubleType)
  private def boolish(c: Column): Column  = lower(c).isin("true", "false")

  /** Parse string columns whose non-null values are all numeric (→ double)
    * or all boolean (→ boolean). pandas gets this for free because
    * `read_csv` recognises NA sentinels at parse time and types the rest;
    * Spark's CSV reader knows only one nullValue, so after frame-wide
    * sentinel replacement ([[replaceNa]]) this pass restores the types the
    * reference's reader would have produced. Numeric wins over boolean
    * ("0"/"1" strings stay numeric so the dummy-detect heuristic decides,
    * as in pandas). Standalone, this profiles the string columns (one job).
    */
  def parseStrings(df: DataFrame): DataFrame =
    parse(Profile.of(df, stringCols(df))).df

  /** The parse decision over a profile of its frame; returns the profile
    * retargeted to the parsed frame.
    */
  private def parse(p: Profile): Profile = {
    val strCols              = stringCols(p.df).filter(c => p.cols(c).nonNull > 0)
    val (exact, overflowing) = strCols.partition(c => p.exact(c).isDefined)

    // exact columns: the row-level checks evaluated once per distinct value
    // (no job) — every row passes iff every distinct value does
    val keys = exact.flatMap(c => p.exact(c).get.keys.toSeq.map(c -> _))
    val checked = keys.zip(Profile.evalLocal(p.df, StringType, keys.map(_._2)) { v =>
      val d = asDouble(v)
      Seq(d, Profile.fractional(d), boolish(v), when(boolish(v), v.cast(BooleanType)))
    }).groupMap(_._1._1) { case ((_, v), r) => v -> r }
    val exactParsed = exact.flatMap { c =>
      val (counts, rows, cnt) = (p.exact(c).get, checked(c).map(_._2), p.cols(c).nonNull)
      def rekeyed(field: Int) = Profile.rekey(counts)(checked(c).map { case (v, r) => v -> r.get(field) }.toMap)
      if (rows.forall(!_.isNullAt(0)))
        Some(c -> (DoubleType, ColumnProfile(cnt, None, Some(rows.exists(_.getBoolean(1))), Some(rekeyed(0)))))
      else if (rows.forall(_.getBoolean(2)))
        Some(c -> (BooleanType, ColumnProfile(cnt, counts = Some(rekeyed(3)))))
      else None
    }

    // overflowing columns: the one row-level job this stage can need, a
    // profile of each column's parsed value (d) and boolean match (b)
    val fallbackParsed =
      if (overflowing.isEmpty) Nil
      else {
        val checks = Profile.of(
          p.df.select(overflowing.indices.flatMap { i =>
            val c = Cols.q(overflowing(i))
            Seq(asDouble(c).as(s"d$i"), when(boolish(c), lit(true)).as(s"b$i"))
          }: _*),
          overflowing.indices.map(i => s"d$i"),
          p.cap)
        overflowing.zipWithIndex.flatMap { case (c, i) =>
          val (d, cnt) = (checks.cols(s"d$i"), p.cols(c).nonNull)
          if (d.nonNull == cnt) Some(c -> (DoubleType, d))
          else if (checks.cols(s"b$i").nonNull == cnt) Some(c -> (BooleanType, ColumnProfile(cnt)))
          else None
        }
      }

    val parsed = (exactParsed ++ fallbackParsed).toMap
    if (parsed.isEmpty) return p
    val out = p.df.select(p.df.columns.toIndexedSeq.map { c =>
      parsed.get(c).fold(Cols.q(c))(t => Cols.q(c).cast(t._1).as(c))
    }: _*)
    p.copy(df = out, cols = p.cols ++ parsed.map { case (c, (_, cp)) => c -> cp })
  }

  /** pandas `convert_dtypes` equivalent (tasks.py:261): tighten
    * integer-valued float columns to LongType. Columns with any fractional
    * or out-of-long-range value stay double; all-null double columns stay
    * double. Standalone, this profiles the frame without value counts (one
    * job).
    */
  def convertDtypes(df: DataFrame): DataFrame = convert(Profile.of(df, Nil)).df

  private def convert(p: Profile): Profile = {
    val toLong = p.df.schema.fields.collect {
      case f if (f.dataType == DoubleType || f.dataType == FloatType) &&
          p.cols(f.name).fractional.contains(false) && p.cols(f.name).nonNull > 0 => f.name
    }.toSet
    if (toLong.isEmpty) return p
    val out = p.df.select(p.df.columns.toIndexedSeq.map { c =>
      if (toLong(c)) Cols.q(c).cast(LongType).as(c) else Cols.q(c)
    }: _*)
    // integral values within ±2^53: the cast is exact and keeps keys distinct
    val cols = p.cols.map { case (c, cp) =>
      c -> (if (!toLong(c)) cp
            else ColumnProfile(cp.nonNull, counts = cp.counts.map(Profile.rekey(_)(k =>
              java.lang.Long.valueOf(k.asInstanceOf[Number].longValue())))))
    }
    p.copy(df = out, cols = cols)
  }

  /** `_replace_na` (tasks.py:100–108): frame-wide, any cell whose value is in
    * `naValues` becomes null. Each column only compares against
    * TYPE-COMPATIBLE sentinels — under Spark 4's default ANSI mode,
    * `isin("NA")` on a double column would otherwise coerce the literal and
    * throw CAST_INVALID_INPUT (and pandas `replace` never cross-matches a
    * string sentinel against a numeric cell anyway).
    */
  def replaceNa(df: DataFrame, naValues: Seq[Any]): DataFrame =
    if (naValues == null || naValues.isEmpty) df
    else
      df.select(df.columns.toIndexedSeq.map { c =>
        val vals = df.schema(c).dataType match {
          case _: NumericType => naValues.collect { case n: java.lang.Number => n }
          case BooleanType    => naValues.collect { case b: java.lang.Boolean => b }
          case _              => naValues.map(String.valueOf)
        }
        if (vals.isEmpty) Cols.q(c)
        else when(Cols.q(c).isin(vals: _*), lit(null)).otherwise(Cols.q(c)).as(c)
      }: _*)

  /** `_obj_wrangler` (tasks.py:124–131): object→string cast. Spark columns
    * are already typed, so this is an identity stage kept for parity.
    */
  def objWrangler(df: DataFrame): DataFrame = df

  /** `_check_model_assumptions` (tasks.py:235–240): documented identity
    * extension point.
    */
  def checkModelAssumptions(df: DataFrame): DataFrame = df

  /** `_factor_wrangler` (tasks.py:134–232). Categorical typing:
    *  (a) `strToCat`: every string column becomes a categorical whose
    *      default category set is its distinct values in alphanumeric order
    *      (tasks.py:160–163, 188–192);
    *  (b) `dummyToBool`: numeric columns whose distinct non-null values sum
    *      to 1 become boolean (tasks.py:193–208) — the reference heuristic is
    *      sum-based, not set-based: {0,1}, {0.0,1.0}, {1}, and even {2,−1}
    *      all convert; we preserve that quirk;
    *  (c) `catCols` forced categorical; (d) explicit `categories` lists pin
    *      the category set and order, values outside the list become null
    *      (tasks.py:217–223); (e) `orderedCols` marks ordered.
    *
    * Distinct-value discovery for (a)+(b) reads the value → count maps of
    * the frame's [[graft.core.Profile]] (attached by [[apply]]), or profiles
    * the needed columns in ONE aggregate job when standalone. Each map is a
    * [[graft.functions.BoundedCounts]] whose buffer stops admitting values
    * at `maxCategories + 1` keys, so the same pass yields both the exact
    * distinct set (when small enough to become categorical) and the
    * cardinality decision (a full map means "too many"): a column with more
    * than `maxCategories` distinct values (ids, free text) never ships its
    * full value set to the driver; it simply stays untyped (and cannot be a
    * 0/1 dummy anyway). PARITY NOTE: the reference `_factor_wrangler`
    * applies no cap at all — the generous default (10000) makes divergence
    * unlikely, and gated-out columns are logged so the silent type change
    * is observable.
    */
  def factorWrangler(
      gf: GraftFrame,
      catCols: Seq[String] = Nil,
      orderedCols: Seq[String] = Nil,
      categories: Map[String, Seq[String]] = Map.empty,
      strToCat: Boolean = true,
      dummyToBool: Boolean = true,
      maxCategories: Int = 10000): GraftFrame = {
    val df     = gf.df
    val fields = df.schema.fields.toIndexedSeq

    val numericCols = fields.filter(f => isNumeric(f.dataType)).map(_.name)
    val stringCols  = fields.filter(_.dataType == StringType).map(_.name)

    // Columns whose distinct sets we need: numeric (dummy detect) + the
    // future categorical columns without an explicit category list.
    val wantCat: Seq[String] =
      ((if (strToCat) stringCols else IndexedSeq.empty[String]) ++ catCols).distinct
    val needSets0: Seq[String] =
      ((if (dummyToBool) numericCols else IndexedSeq.empty[String]) ++
        wantCat.filterNot(categories.contains)).distinct

    // A map of cap (= maxCategories + 1) keys is the overflow signal — that
    // column is gated out (its exact set was never fully shipped: the
    // buffer stopped growing at the cap on the executors).
    val cap = maxCategories + 1
    val p = gf.profile
      .filter(p => needSets0.forall(c => p.counts(c, cap).isDefined))
      .getOrElse(Profile.of(df, needSets0, cap))
    val sets: Map[String, Map[Any, Long]] = {
      val (kept, gatedOut) = needSets0.map(c => c -> p.counts(c, cap).get).toMap.partition(_._2.size < cap)
      if (gatedOut.nonEmpty)
        log.info(
          s"factorWrangler cardinality gate: column(s) ${gatedOut.keys.toSeq.sorted.mkString(", ")} " +
            s"exceed maxCategories=$maxCategories distinct values and stay untyped " +
            "(the reference applies no cap; raise maxCategories to match it exactly)")
      kept
    }
    val gated: Set[String] = sets.keySet

    // (b) dummy→bool: nansum of distinct values == 1 (tasks.py:195–204)
    val boolCols: Set[String] =
      if (!dummyToBool) Set.empty
      else
        numericCols.filter { c =>
          // np.nansum semantics: NaN values in the distinct set are ignored,
          // not propagated; summed in value order so the float sum is
          // deterministic
          val vs = sets
            .get(c)
            .fold(Seq.empty[Double])(_.keys.toSeq.map {
              case n: java.lang.Number => n.doubleValue()
              case _                   => Double.NaN
            })
            .filterNot(_.isNaN)
            .sorted
          vs.nonEmpty && vs.sum == 1.0
        }.toSet

    var out = df.select(fields.map { f =>
      if (boolCols(f.name)) Cols.q(f.name).cast(BooleanType).as(f.name)
      else Cols.q(f.name)
    }: _*)
    // Spark casts a number to boolean as `x != 0` (NaN → true)
    var cols = p.cols ++ boolCols.map { c =>
      c -> ColumnProfile(p.cols(c).nonNull, counts = p.cols(c).counts.map(Profile.rekey(_)(k =>
        java.lang.Boolean.valueOf(k.asInstanceOf[Number].doubleValue() != 0.0))))
    }

    // (a)+(c)+(d): assemble category metadata; columns rejected by the
    // cardinality gate (no declared list, too many distinct values) stay
    // plain string
    var cats = gf.cats
    wantCat.foreach { c =>
      val declared = categories.get(c)
      if (declared.nonEmpty || gated(c)) {
        val values: Seq[String] = declared.getOrElse {
          sets.getOrElse(c, Map.empty).keys.toSeq.map(String.valueOf).sorted // alphanumeric default order
        }
        cats = cats + (c -> CategoryInfo(values, ordered = false))
        declared.foreach { cs =>
          // values outside the declared list become null (tasks.py:217–223)
          out = out.withColumn(c, when(Cols.q(c).isin(cs: _*), Cols.q(c)).otherwise(lit(null).cast(StringType)))
          val kept = Option.when(df.schema(c).dataType == StringType)(p.exact(c)).flatten
            .map(_.filter { case (v, _) => cs.contains(v) })
          cols = kept.fold(cols - c)(m => cols + (c -> ColumnProfile(m.values.sum, counts = Some(m))))
        }
      }
    }
    // (e) ordered
    orderedCols.foreach { c =>
      cats.get(c).foreach(info => cats = cats + (c -> info.copy(ordered = true)))
    }
    GraftFrame(out, cats, Some(p.copy(df = out, cols = cols)))
  }

  /** `clean_data` (tasks.py:243–272): the full fixed pipeline. */
  def apply(
      df: DataFrame,
      naValues: Seq[Any] = Nil,
      catCols: Seq[String] = Nil,
      orderedCols: Seq[String] = Nil,
      categories: Map[String, Seq[String]] = Map.empty,
      strToCat: Boolean = true,
      dummyToBool: Boolean = true): GraftFrame = {
    val sanitize = (s: Seq[String]) => Sanitize.sanitizeColNames(s).getOrElse(Nil)
    // NA sentinels must be nulled BEFORE type parsing (pandas' reader does
    // both at parse time; tasks.py:261 then re-infers with convert_dtypes);
    // names are sanitized first so the one profile describes the output
    // columns under their final names
    val staged = Sanitize.columnWrangler(replaceNa(df, naValues))
    val counted = staged.schema.fields.collect { case f if Profile.countable(f.dataType) => f.name }
    val typed   = convert(parse(Profile.of(staged, counted.toIndexedSeq)))
    factorWrangler(
      GraftFrame(checkModelAssumptions(objWrangler(typed.df)), Map.empty, Some(typed)),
      sanitize(catCols),
      sanitize(orderedCols),
      categories.map { case (k, v) => Sanitize.cleanText(k) -> v },
      strToCat,
      dummyToBool)
  }
}
