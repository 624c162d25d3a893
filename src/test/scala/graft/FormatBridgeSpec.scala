package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import graft.sources.FormatBridge

/** Round-trip fidelity of the multi-format bridge over REAL fixture tables
  * (not synthetic minimal rows): lineitem exercises TIMESTAMP_NTZ + doubles
  * + strings, events (post-normalize) exercises bigint nanos + a JSON text
  * column with embedded quotes/braces, documents exercises free text with
  * punctuation through CSV quoting. A format is correct when the read-back
  * row SET equals the parquet-loaded original under the original schema. */
class FormatBridgeSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  var base: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("graft_fmt").toString
  }
  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    if (base != null) rm(new java.io.File(base))
  }

  for (table <- Seq("lineitem", "events", "documents");
       format <- FormatBridge.Formats)
    test(s"$table round-trips through $format") {
      val src = Tables(spark, sfDir, table)
      val path = s"$base/${table}_$format"
      FormatBridge.write(src, path, format)
      val back = FormatBridge.read(spark, path, format, src.schema)
      assert(back.schema == src.schema, s"schema drift through $format")
      val expected = src.collect().map(_.toString).sorted.toSeq
      val got = back.collect().map(_.toString).sorted.toSeq
      assert(got.length == expected.length,
        s"$table×$format row count ${got.length} != ${expected.length}")
      got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
        assert(g == e, s"$table×$format row $i differs:\n got $g\n exp $e")
      }
    }

  // the fixture corpus is benign ASCII; this case forces the text-format
  // hazards the scaladoc claims to survive — embedded newlines (CSV
  // multiLine), quotes/commas (quoting+escapes), a literal "\N" (the MySQL
  // null convention that must round-trip as DATA, not null), empty string
  // vs null (the sentinel's reason to exist)
  for (format <- FormatBridge.Formats) test(s"hostile text round-trips through $format") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val src = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "line1\nline2"),
        Row(2L, "a,\"quoted\",b"),
        Row(3L, "\\N"),
        Row(4L, ""),
        Row(5L, null)),
      schema)
    val path = s"$base/hostile_$format"
    FormatBridge.write(src, path, format)
    val back = FormatBridge.read(spark, path, format, src.schema)
    val exp = src.collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    val got = back.collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(got == exp, s"hostile×$format: $got != $exp")
  }

  test("csv write fails LOUDLY when a data value collides with the null sentinel (r9 ADVICE)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("t", StringType)))
    def df(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    // a value EQUAL to the sentinel (Spark's nullValue match is
    // whole-field; quoting can't protect it — the parser matches after
    // unescaping) must abort instead of silently round-tripping to NULL,
    // and the aborted output must NOT survive on disk (r10 ADVICE: a
    // directory-watching consumer must never see the corrupt files)
    val bad = df(Row(1L, "ok"), Row(2L, "__graft_null_7f3a__"))
    val badPath = s"$base/sentinel_bad"
    val e = intercept[Exception] {
      FormatBridge.write(bad, badPath, "csv")
    }
    assert(e.getMessage.contains("sentinel"), s"wrong failure: ${e.getMessage}")
    assert(!new java.io.File(badPath).exists(),
      "aborted CSV output must be deleted, not left for downstream consumers")
    // a value merely CONTAINING the sentinel round-trips fine (whole-field
    // match) — the guard must not false-positive on it
    val contains = df(Row(1L, "x __graft_null_7f3a__ y"), Row(2L, null))
    val cPath = s"$base/sentinel_contains"
    FormatBridge.write(contains, cPath, "csv")
    val back = FormatBridge.read(spark, cPath, "csv", schema).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(back == Seq((1L, Some("x __graft_null_7f3a__ y")), (2L, None)),
      s"substring cell must round-trip intact: $back")
    // clean data still writes (guard must not false-positive on NULLs)
    FormatBridge.write(df(Row(1L, "ok"), Row(2L, null)), s"$base/sentinel_ok", "csv")
  }
}
