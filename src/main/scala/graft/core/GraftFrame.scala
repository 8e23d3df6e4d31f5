package graft.core

import org.apache.spark.sql.DataFrame

/** Category metadata for one column — the engine-side stand-in for pandas'
  * `CategoricalDtype` (reference `/root/reference/src/tasks.py:134–232`),
  * which Spark has no native equivalent for (SURVEY.md §7.4). Values stay in
  * their native column type; the category *set* and *orderedness* live here.
  *
  * @param categories declared category values in category order (default
  *                   order is alphanumeric, tasks.py:160–163)
  * @param ordered    whether the categorical is ordered (tasks.py:225–231)
  */
final case class CategoryInfo(categories: Seq[String], ordered: Boolean)

/** Thin wrapper: a lazy Spark DataFrame plus engine-side per-column category
  * metadata. All preprocessing operators are `GraftFrame => GraftFrame`, so
  * the whole chain stays one Catalyst plan (no materialization between
  * stages, unlike the reference's eager task boundaries — SURVEY.md §3).
  *
  * A stage that has profiled its frame attaches the [[Profile]] so later
  * stages read their statistics from it instead of running a job.
  */
final case class GraftFrame(
    df: DataFrame,
    cats: Map[String, CategoryInfo] = Map.empty,
    attached: Option[Profile] = None) {

  /** The attached profile, only while it describes exactly this `df`. */
  def profile: Option[Profile] = attached.filter(_.df eq df)

  def mapDf(f: DataFrame => DataFrame): GraftFrame = copy(df = f(df))

  def withCat(col: String, info: CategoryInfo): GraftFrame =
    copy(cats = cats + (col -> info))

  def dropCat(col: String): GraftFrame = copy(cats = cats - col)

  /** Unordered categorical columns, in DataFrame column order. */
  def unorderedCatCols: Seq[String] =
    df.columns.toIndexedSeq.filter(c => cats.get(c).exists(!_.ordered))

  /** Ordered categorical columns, in DataFrame column order. */
  def orderedCatCols: Seq[String] =
    df.columns.toIndexedSeq.filter(c => cats.get(c).exists(_.ordered))
}

object GraftFrame {
  def apply(df: DataFrame): GraftFrame = GraftFrame(df, Map.empty)
}
