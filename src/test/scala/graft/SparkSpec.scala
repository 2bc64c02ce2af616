package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (lazy — one JVM-wide session is
  * reused across suites via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession(4)

  def sf(name: String) = s"/root/testdata/$name"
}
