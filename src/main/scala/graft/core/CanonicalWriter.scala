package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink helper (SURVEY.md §2B scans/sinks): a CANONICAL CSV for
  * hash-comparison — total row order over every
  * column, fixed float formatting (so an engine's last-ulp noise can't
  * change the bytes), ISO timestamps, single header file.
  */
object CanonicalWriter {

  /** Canonicalized frame: floats formatted to `floatDigits` decimals,
    * timestamps ISO-formatted, rows totally ordered by all columns.
    */
  def canonicalize(df: DataFrame, floatDigits: Int = 6): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          // plain fixed-point text (format_number would insert thousands
          // separators, and format_string's %.Nf rounds ties HALF_UP where
          // the DuckDB/Python oracle rounds half-even — FormatHalfEven
          // matches the oracle on exactly-representable ties)
          graft.functions.HalfEvenFormat(Cols.q(f.name).cast(DoubleType), floatDigits)
            .as(f.name)
        case TimestampType =>
          date_format(Cols.q(f.name), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as(f.name)
        case _: ArrayType =>
          to_json(Cols.q(f.name)).as(f.name)
        case _ => Cols.q(f.name).cast(StringType).as(f.name)
      }
    }
    val canon = df.select(cols: _*)
    canon.orderBy(canon.columns.toIndexedSeq.map(Cols.q): _*)
  }

  /** Write the canonical CSV as ONE ordered file (header included). */
  def writeCsv(df: DataFrame, path: String, floatDigits: Int = 6): Unit =
    canonicalize(df, floatDigits)
      .coalesce(1)
      .write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)
}
