package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection utility: `runMain graft.Explain [queryName ...]`
  * prints the formatted physical plan of each named query (all bench
  * queries when none given) against SPARK_GRAFT_SF_DIR. Used to audit
  * that filters/projections reach the parquet scans (PushedFilters /
  * ReadSchema), small dimensions broadcast, and operators stay inside
  * WholeStageCodegen. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Queries.benchNames
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(formatted(Queries.queries(n)(spark, sfDir)))
    }
    spark.stop()
  }

  /** The formatted physical plan, with every control character other
    * than newline and tab written as a six-character unicode escape
    * (backslash, `u`, four hex digits): plan literals may hold them
    * (`Dedup.exact`'s NUL sentinels), and raw they would make a pasted
    * plan a binary file. */
  def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode).flatMap {
      case c if c < ' ' && c != '\n' && c != '\t' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
