package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions
import graft.sources.Sinks

class ExtensionsSinksSpec extends SparkSpec {
  import spark.implicits._

  test("extensions: graft SQL functions registered and correct") {
    GraftExtensions.register(spark)
    val h = spark.sql("SELECT graft_polyhash('hello') AS h").as[Long].collect().head
    assert(h === "hello".foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L))
    val sig = spark.sql(
      "SELECT graft_shingle_minhash(split('a b c d', ' '), 3, 4) AS s")
      .as[Seq[Long]].collect().head
    assert(sig.length === 4)
    // identical input → identical signature through the SQL surface
    val sig2 = spark.sql(
      "SELECT graft_shingle_minhash(split('a b c d', ' '), 3, 4) AS s")
      .as[Seq[Long]].collect().head
    assert(sig === sig2)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].collect().head
    assert(dot === 11.0)
    // misuse: non-literal n must fail with a clear message
    val err = intercept[Exception](spark.sql(
      "SELECT graft_shingle_minhash(split('a b', ' '), id, 4) FROM range(1)").collect())
    assert(err.getMessage.contains("integer literal")
      || err.getMessage.contains("graft_shingle_minhash"))
    // misuse: integer arrays must fail analysis, not return garbage
    val typeErr = intercept[Exception](spark.sql(
      "SELECT graft_dot(array(1, 2), array(3, 4))").collect())
    assert(typeErr.getMessage.toLowerCase.contains("array"))
    // band hashes + agreement count through the SQL surface
    val bh = spark.sql(
      "SELECT graft_band_hashes(array(1L, 2L, 3L, 4L), 2) AS b")
      .as[Seq[Long]].collect().head
    assert(bh === Seq((1L * 31 + 2) % 1000000007L, (3L * 31 + 4) % 1000000007L))
    val eq = spark.sql(
      "SELECT graft_array_eq_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS c")
      .as[Int].collect().head
    assert(eq === 2)
    // misuse: indivisible signature length must fail loudly, not drop
    // trailing positions
    val divErr = intercept[Exception](spark.sql(
      "SELECT graft_band_hashes(array(1L, 2L, 3L), 2)").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(divErr).exists(_.contains("not divisible")), divErr.getMessage)
    val bucket = spark.sql(
      "SELECT graft_lsh_bucket(array(1.0D, -1.0D), 4, 2) AS b")
      .as[Long].collect().head
    assert(bucket === spark.sql(
      "SELECT graft_lsh_bucket(array(1.0D, -1.0D), 4, 2) AS b")
      .as[Long].collect().head)
    // misuse: a bigint literal beyond int range must error, not
    // silently truncate (4294967297 would wrap to planes=1)
    val rangeErr = intercept[Exception](spark.sql(
      "SELECT graft_lsh_bucket(array(1.0D, -1.0D), 4294967297, 2)").collect())
    assert(msgs(rangeErr).exists(_.contains("out of int range")),
      rangeErr.getMessage)

    // graft_nfc: registered; composition observable from SQL. (NOT
    // chr(769): Spark's chr is ASCII mod 256, unlike DuckDB's — the
    // combining char goes in as a unicode literal.)
    val nfcLen = spark.sql(
      "SELECT length(graft_nfc('cafe\u0301')) AS l")
      .as[Int].collect().head
    assert(nfcLen === 4)                 // composed to a 4-codepoint string

    // graft_winnow: registered, matches the Column wrapper, and
    // rejects a non-literal window argument at analysis
    val wn = spark.sql(
      "SELECT graft_winnow(split('a b a b a b c', ' '), 2, 3) AS f")
      .select(size(col("f"))).as[Int].collect().head
    assert(wn >= 1)
    val wErr = intercept[Exception](spark.sql(
      "SELECT graft_winnow(split('a b', ' '), 2, id) FROM range(1)").collect())
    assert(msgs(wErr).exists(_.contains("must be an integer literal")),
      wErr.getMessage)

    // graft_shingle_simhash is registered; TWO instances in one
    // projection over a NON-NULLABLE child must both codegen (a fixed
    // generated-local name would collide and knock the projection out
    // of whole-stage codegen)
    val sims = spark.sql(
      "SELECT graft_shingle_simhash(split('a b c d', ' '), 3, 24) AS s24, " +
        "graft_shingle_simhash(split('a b c d', ' '), 3, 64) AS s64, " +
        "graft_shingle_simhash(split('a b', ' '), 3, 24) AS nul")
      .as[(Option[Long], Option[Long], Option[Long])].collect().head
    assert(sims._1.nonEmpty && sims._2.nonEmpty)
    assert(sims._3.isEmpty, "shingle-less doc must SimHash to NULL")

    // misuse: non-positive counts fail at analysis with a clear error,
    // not per-row deep in the kernels (/ by zero, negative array size)
    val zeroErr = intercept[Exception](spark.sql(
      "SELECT graft_band_hashes(array(1L, 2L), 0)").collect())
    assert(msgs(zeroErr).exists(_.contains("must be >= 1")), zeroErr.getMessage)
    // misuse: wrongly-typed input fails analysis (Spark's own input-type
    // check, naming the function and the required type), not at runtime
    // with a ClassCastException or garbage offsets
    def typeRefusal(sql: String, fn: String, required: String): Unit = {
      val err = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql))
      assert(err.getCondition === "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", err.getMessage)
      assert(err.getMessage.contains(fn) && err.getMessage.contains(s"\"$required\""),
        err.getMessage)
    }
    typeRefusal("SELECT graft_shingle_minhash(array(1, 2, 3), 1, 4)",
      "graft_shingle_minhash", "ARRAY<STRING>")
    typeRefusal("SELECT graft_polyhash(123)", "graft_polyhash", "STRING")
    // misuse: dyadic-fold elements that overflow the exact 2^i
    // weighting fail LOUDLY (a silent wrap would be a sign-flipped
    // wrong answer; the ANSI declarative twin throws on the same row)
    val ovErr = intercept[Exception](spark.sql(
      "SELECT graft_dyadic_fold(array(4611686018427387904L, 4611686018427387904L))")
      .collect())
    assert(msgs(ovErr).exists(_.contains("overflows the exact")), ovErr.getMessage)
    // misuse: planes beyond 62 would wrap `1L << p` mod 64 (plane 64's
    // vote ORing into bit 0 under a different hyperplane)
    val planesErr = intercept[Exception](spark.sql(
      "SELECT graft_lsh_bucket(array(1.0D, -1.0D), 63, 2)").collect())
    assert(msgs(planesErr).exists(_.contains("[1, 62]")), planesErr.getMessage)
  }

  test("SQL function arity and short-literal args error/work at analysis time") {
    GraftExtensions.register(spark)
    // wrong arity: a named error, not NoSuchElementException
    val e = intercept[Throwable] { spark.sql("SELECT graft_dot(array(1.0))").collect() }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("requires exactly 2 arguments")), e.toString)
    // a SQL short literal (2S) IS an integer literal
    val r = spark.sql("SELECT graft_shingles(array('a','b','c'), 2S) AS s")
      .collect().head.getSeq[String](0)
    assert(r.toSet === Set("a b", "b c"))
  }

  test("epochMicros on int64 nanos FLOOR-divides: pre-epoch sub-us " +
      "remainders land in the earlier microsecond, like DuckDB epoch_us") {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.types.LongType
    val df = Seq(-1500L, -1000L, -999L, -1L, 0L, 999L, 1000L, 1500L).toDF("ns")
    val got = df.select(col("ns"),
        GraftFunctions.epochMicros(LongType, col("ns")).as("us"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(-1500L -> -2L, -1000L -> -1L, -999L -> -1L,
      -1L -> -1L, 0L -> 0L, 999L -> 0L, 1000L -> 1L, 1500L -> 1L))
  }

  test("sinks: partitioned parquet write round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5))
      .toDF("id", "part", "v")
    Sinks.writeParquet(df, s"$dir/out", partitionBy = Seq("part"))
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 3)
    assert(back.filter(col("part") === "a").count() === 2)
    // partition pruning: the partition predicate reaches the scan as a
    // PartitionFilter (directory-level pruning, not a post-scan filter)
    val plan = back.filter(col("part") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"), plan)
    assert(new java.io.File(s"$dir/out/part=a").exists())
  }

  test("sinks: JSON-lines round-trip with declared schema and column pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_").toString
    val df = Seq((1L, "alpha beta", 1.5), (2L, "gamma", 2.5), (3L, null: String, 3.5))
      .toDF("id", "text", "score")
    Sinks.writeJson(df, s"$dir/out")
    val back = graft.sources.Tables.json(spark, s"$dir/out", df.schema)
    // values (incl. the null) and types survive the text encoding
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ===
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    // names+types survive; JSON relaxes nullability (every field is
    // optional in a text row), so compare the (name, type) signature
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    // column pruning reaches the JSON reader (ReadSchema is the
    // projection, not the full declared schema)
    val plan = back.select("id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>"), plan)
  }

  test("sinks: size-targeted parquet write fixes upstream partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sized_").toString
    // badly partitioned upstream: 64 partitions for a small table would
    // write 64 tiny files through the naive sink
    val df = spark.range(0, 20000).toDF("id")
      .withColumn("payload", concat_ws("-", col("id"), lit("x" * 64)))
      .repartition(64)
    val n = Sinks.writeParquetSized(df, s"$dir/out", targetBytes = 512L << 10)
    val files = new java.io.File(s"$dir/out").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files === n, s"wrote $files files, chose $n")
    assert(n < 64, s"sized writer must collapse the 64-way layout, chose $n")
    assert(spark.read.parquet(s"$dir/out").count() === 20000)
  }
}
