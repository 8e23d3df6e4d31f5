package graft

import graft.core.GraftSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection CLI: drains the named declared queries (all of them
  * with no args) the way [[Bench]] forces a case, then prints each one's
  * formatted final adaptive plan (`isFinalPlan=true`) — pushdown, broadcast
  * choice and shuffle counts as the pre-execution plan shows them, plus the
  * exchanges AQE reused at runtime.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val dir   = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      Bench.force(df)
      println(s"\n===== $n =====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
