package graft

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
      Queries.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
