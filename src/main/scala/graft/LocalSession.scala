package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration of the mains (Bench, Verify, Profile,
  * Explain): `local[cores]` with as many shuffle partitions, AQE, UTC
  * session time, nanosecond parquet timestamps read as longs, no UI,
  * and graft's planner extensions. */
object LocalSession {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()
}
