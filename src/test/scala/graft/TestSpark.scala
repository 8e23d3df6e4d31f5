package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.Assertions._

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Schema (names + types) and sorted-row equality with double tolerance.
    * Schema equality is STRICT by default — a query whose output type
    * drifts between TIMESTAMP_NTZ and TIMESTAMP fails, because the NTZ
    * encoding is part of the oracle contract (q11 alignment). The
    * streaming-vs-batch parity comparisons opt in to `normalizeNtz`:
    * batch readers keep the parquet NTZ type while streaming event time
    * must be TIMESTAMP, and under the suite's UTC session the cast is
    * value-preserving — only THAT comparison should not fork on the
    * encoding.
    */
  def assertFrameEqual(
      got: DataFrame,
      want: DataFrame,
      tol: Double = 1e-9,
      normalizeNtz: Boolean = false): Unit = {
    def norm(df: DataFrame): DataFrame =
      if (!normalizeNtz) df
      else
        df.select(df.schema.fields.map { f =>
          import org.apache.spark.sql.functions.col
          if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
            col(s"`${f.name}`").cast("timestamp").as(f.name)
          else col(s"`${f.name}`")
        }.toSeq: _*)
    val (gotN, wantN) = (norm(got), norm(want))
    assert(
      gotN.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        wantN.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"schema mismatch:\n got: ${got.schema.treeString}\n want: ${want.schema.treeString}")
    def rowKey(r: Row): String =
      r.toSeq.map {
        case null      => "∅"
        case d: Double => f"$d%.9f"
        case f: Float  => f"${f.toDouble}%.9f"
        case x         => x.toString
      }.mkString("|")

    val g = gotN.collect().map(rowKey).sorted
    val w = wantN.collect().map(rowKey).sorted
    assert(g.length == w.length, s"row count ${g.length} != ${w.length}")
    g.zip(w).foreach { case (a, b) => assert(a == b, s"row mismatch:\n got: $a\n want: $b") }
  }
}
