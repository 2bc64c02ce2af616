package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Every native function has one implementation — its `HashUtil`
  * kernel, called through Spark's `StaticInvoke` — which Spark runs two
  * ways: compiled inside whole-stage codegen, and by reflection when a
  * plan runs interpreted. The two runs must agree on every edge the
  * kernels define a law for: NULL input, empty input, input shorter
  * than the shingle width / vector dimension, and NULL elements. */
class NativeFunctionsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s", StringType),
    StructField("toks", ArrayType(StringType)),
    StructField("fvec", ArrayType(FloatType)),
    StructField("dvec", ArrayType(DoubleType)),
    StructField("mh", ArrayType(LongType)),
    StructField("mh2", ArrayType(LongType)),
    StructField("xs", ArrayType(LongType))))

  private val rows = Seq(
    // NULL everywhere
    Row(0, null, null, null, null, null, null, null),
    // empty
    Row(1, "", Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
    // shorter than n = 3 / dim = 3
    Row(2, "a", Seq("a", "b"), Seq(1.0f, -1.0f), Seq(0.5, 0.25), Seq(1L, 2L),
      Seq(1L), Seq(3L)),
    // NULL elements
    Row(3, "café", Seq("a", null, "b", "c"), Seq(1.0f, null, 2.0f),
      Seq(null, 1.0, 2.0), Seq(1L, null, 3L, 4L), Seq(1L, null, 3L, 5L), Seq(1L, null)),
    Row(4, null, Seq[String](null, null, null), Seq(0.5f, 0.5f, -2.0f),
      Seq(1.0, 2.0, 3.0), Seq(null, null), Seq(7L, 7L), Seq(0L, 1L, 1L)),
    // ordinary: repeats, a supplementary-plane code point, full vectors
    Row(5, "héllo 𝄞", Seq("a", "b", "a", "b", "a", "b", "c"),
      Seq(0.3f, -0.7f, 0.9f), Seq(-0.1, 0.4, 0.2), Seq(5L, 6L, 7L, 8L),
      Seq(5L, 0L, 7L, 8L, 9L), Seq(1L, 0L, 1L, 1L)))

  private def input: DataFrame =
    // an RDD source, so the optimizer cannot fold the projection into a
    // local relation and evaluate it up front
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private def allThirteen(df: DataFrame): DataFrame = {
    import GraftFunctions._
    df.select(col("id"),
      polyHash(col("s")), nfc(col("s")),
      shingleMinHash(col("toks"), 3, 4),
      shingleSimHash(col("toks"), 3, 24), shingleSimHash(col("toks"), 3, 64),
      shingles(col("toks"), 3), positionedShingles(col("toks"), 3),
      winnowFingerprints(col("toks"), 2, 3),
      bpeMerge(col("toks"), "a", "b"),
      dyadicFold(col("xs")),
      dotProduct(col("fvec"), col("dvec")),
      lshBucket(col("fvec"), 8, 3), lshBucket(col("dvec"), 8, 3),
      bandHashes(col("mh"), 2),
      arrayEqCount(col("mh"), col("mh2")))
  }

  /** Runs `f` with the given session confs, restoring the old values. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(kv: (String, String)*): (Seq[Row], String) = withConf(kv: _*) {
    val df = allThirteen(input)
    (df.orderBy("id").collect().toSeq, df.queryExecution.executedPlan.toString)
  }

  test("all 13 native functions: interpreted and compiled runs are identical") {
    val (interpreted, iPlan) = run(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val (compiled, cPlan) = run(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    assert(!iPlan.contains("*("), s"interpreted run must not compile a stage:\n$iPlan")
    assert(cPlan.contains("*(") && cPlan.contains("static_invoke(graft.functions.HashUtil."),
      s"compiled run must call the kernels from whole-stage codegen:\n$cPlan")
    assert(interpreted.length === rows.length)
    interpreted.zip(compiled).foreach { case (i, c) =>
      assert(i === c, s"row ${i.getInt(0)}: interpreted $i vs compiled $c")
    }
    // the kernels' own NULL laws, on the all-NULL row
    val nul = interpreted.head
    assert(Seq(6, 7, 8).forall(nul.getSeq[Any](_).isEmpty),
      s"shingles / positioned shingles / winnow: NULL input -> empty array: $nul")
    assert(nul.getLong(12) === 0L && nul.getLong(13) === 0L,
      s"lsh bucket: NULL vector -> 0: $nul")
    assert(Seq(1, 2, 3, 4, 5, 9, 10, 11, 14, 15).forall(nul.isNullAt),
      s"every other function: NULL in, NULL out: $nul")
  }
}
