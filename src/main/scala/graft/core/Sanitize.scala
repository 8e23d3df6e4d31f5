package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column/value name sanitization.
  *
  * Reference semantics (`/root/reference/src/tasks.py:40–47` `clean_text`):
  * strip surrounding whitespace, collapse runs of ' ' (spaces only, not all
  * whitespace classes) to a single '_', lowercase.
  */
/** Column references for data-driven names: always backtick-quoted so
  * names containing dots (`Solar.R`, `state.abb` in the reference
  * fixtures) resolve as single identifiers, not struct paths.
  */
object Cols {
  def q(name: String): Column = col("`" + name.replace("`", "``") + "`")
}

object Sanitize {

  /** `clean_text` (tasks.py:40–47). */
  def cleanText(s: String): String =
    s.trim.replaceAll(" +", "_").toLowerCase

  /** `sanitize_col_names` (tasks.py:50–56): maps cleanText over a list;
    * returns None for a null/empty input (the reference returns None for
    * falsy input).
    */
  def sanitizeColNames(cols: Seq[String]): Option[Seq[String]] =
    Option(cols).filter(_.nonEmpty).map(_.map(cleanText))

  /** `_column_wrangler` (tasks.py:111–121): sanitize all column names. */
  def columnWrangler(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(cleanText).toIndexedSeq: _*)
}
