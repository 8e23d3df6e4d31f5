package graft.encode

import graft.core.{ColumnProfile, Cols, GraftFrame, Profile}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Categorical encoding — reference `encode_data`
  * (`/root/reference/src/tasks.py:275–310`):
  *
  *  - UNORDERED categoricals → one-hot boolean dummies named `{col}_{value}`,
  *    emitted in category order (pandas `get_dummies` order = category order
  *    = alphanumeric by default), original column dropped, dummies appended
  *    on the right (tasks.py:295–306). Null rows get all-false dummies — the
  *    reference docstring claims a NA dummy but the code never passes
  *    `dummy_na=True`; code wins (tasks.py:293 vs 304).
  *  - ORDERED categoricals → integer category codes in place (byte, null →
  *    −1), following the declared category order (tasks.py:307–309).
  *
  * Deliberately NOT MLlib StringIndexer/OneHotEncoder: frequency-based
  * ordering and vector output don't match the reference's alphanumeric
  * per-value columns (SURVEY.md §2 A10). The encode is a static projection —
  * category sets come from metadata, so this adds no job and stays inside
  * whole-stage codegen. An attached [[graft.core.Profile]] is retargeted to
  * the output: kept columns keep their entries, and the never-null dummies
  * and codes get counts derived from their source column's counts.
  */
object EncodeData {

  def apply(gf: GraftFrame): GraftFrame = {
    val unordered = gf.unorderedCatCols
    val ordered   = gf.orderedCatCols

    // ordered → codes, in place
    val codeCols: Map[String, Column] = ordered.map { c =>
      val cats = gf.cats(c).categories
      val ladder = cats.zipWithIndex.foldLeft(lit(-1): Column) { case (acc, (v, i)) =>
        when(Cols.q(c) === lit(v), lit(i)).otherwise(acc)
      }
      c -> when(Cols.q(c).isNull, lit(-1)).otherwise(ladder).cast(ByteType).as(c)
    }.toMap

    val kept: Seq[Column] = gf.df.columns.toIndexedSeq.collect {
      case c if !unordered.contains(c) => codeCols.getOrElse(c, Cols.q(c))
    }

    // unordered → boolean dummies appended on the right, category order
    val dummies: Seq[Column] = unordered.flatMap { c =>
      gf.cats(c).categories.map { v =>
        when(Cols.q(c) === lit(v), lit(true)).otherwise(lit(false)).as(s"${c}_$v")
      }
    }

    val out  = gf.df.select(kept ++ dummies: _*)
    val cats = gf.cats -- unordered -- ordered
    GraftFrame(out, cats, gf.profile.map(retarget(_, gf, out)))
  }

  /** The input's profile, restated for `out`. A code or dummy column gets
    * counts only when its source is a string column with exact counts
    * (`===` on strings is exact equality); otherwise it has no entry.
    */
  private def retarget(p: Profile, gf: GraftFrame, out: org.apache.spark.sql.DataFrame): Profile = {
    def source(c: String): Option[Map[Any, Long]] =
      if (gf.df.schema(c).dataType == StringType) p.exact(c) else None
    def neverNull(counts: Map[Any, Long]) =
      ColumnProfile(p.rows, counts = Some(counts.filter(_._2 > 0)))

    // the ladder's outermost `when` is the LAST category, so it wins
    val codes = gf.orderedCatCols.flatMap { c =>
      val index = gf.cats(c).categories.zipWithIndex.toMap
      source(c).filter(_ => index.size <= Byte.MaxValue).map { m =>
        val coded = m.toSeq.map { case (v, n) => index.getOrElse(v.toString, -1) -> n } :+
          (-1 -> (p.rows - m.values.sum))
        c -> neverNull(coded.groupMapReduce(_._1)(_._2)(_ + _).map { case (i, n) =>
          (java.lang.Byte.valueOf(i.toByte): Any) -> n
        })
      }
    }
    val dummies = gf.unorderedCatCols.flatMap { c =>
      source(c).toSeq.flatMap { m =>
        gf.cats(c).categories.map { v =>
          val hits = m.getOrElse(v, 0L)
          s"${c}_$v" -> neverNull(Map[Any, Long](java.lang.Boolean.TRUE -> hits, java.lang.Boolean.FALSE -> (p.rows - hits)))
        }
      }
    }
    val keptCols = p.cols -- gf.unorderedCatCols -- gf.orderedCatCols
    p.copy(df = out, cols = keptCols ++ codes ++ dummies)
  }
}
