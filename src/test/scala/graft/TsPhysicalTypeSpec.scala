package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.{Files, Paths, Path => JPath}

/** Physical-spelling robustness for the events `ts` column (r7 postmortem,
  * r8 verdict directive #4): the driver has regenerated events.parquet with
  * different parquet physical types across rounds — INT64 TIMESTAMP(NANOS)
  * through round 6, INT64 TIMESTAMP(MICROS)/isAdjustedToUTC=false (Spark
  * reads TIMESTAMP_NTZ) since round 7 — and the round-7 switch silently
  * broke every ts-integer query at analysis time. `Tables.normalizeTs`
  * (Engine.scala) now folds every spelling to the epoch-nanos-bigint
  * contract at load; THIS spec is the tripwire that the fold is total.
  *
  * Method: rewrite the same sf0.001 events slice under four physical
  * spellings — plain INT64 bigint, TIMESTAMP(MICROS) LTZ, TIMESTAMP(MICROS)
  * NTZ (the r7 regen shape), and TIMESTAMP(NANOS) (the pre-r7 shape, written
  * through the parquet-java Group API because Spark itself cannot emit nanos)
  * — then run a ts-aggregating query (q24 tumbling windows) and a ts RANGE-
  * frame window query (q97) over each and assert row-identical output. */
class TsPhysicalTypeSpec extends AnyFunSuite with BeforeAndAfterAll {
  val srcDir = "/root/testdata/sf0.001"
  var spark: SparkSession = _
  var base: JPath = _

  val variants = Seq("bigint", "micros_ltz", "micros_ntz", "nanos")
  val probes = Seq("q24_event_tumbling", "q97_rolling_range")

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = Files.createTempDirectory("graft_ts_phys")
    val canonical = Tables(spark, srcDir, "events") // ts already bigint nanos
    variants.foreach { v =>
      val dir = base.resolve(v)
      Files.createDirectories(dir)
      // q24/q97 only read events, but the Tables layout contract is a full
      // directory — link the rest so any future probe swap keeps working
      Tables.names.filter(_ != "events").foreach { n =>
        Files.createSymbolicLink(
          dir.resolve(s"$n.parquet"), Paths.get(srcDir, s"$n.parquet"))
      }
      val out = dir.resolve("events.parquet").toString
      v match {
        case "bigint" =>
          canonical.coalesce(1).write.parquet(out)
        case "micros_ltz" =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
          canonical.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
            .coalesce(1).write.parquet(out)
        case "micros_ntz" =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
          canonical.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000"))
              .cast(org.apache.spark.sql.types.TimestampNTZType))
            .coalesce(1).write.parquet(out)
        case "nanos" =>
          writeNanos(canonical, out)
      }
    }
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (base != null) {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(): Unit
      }
      rm(base.toFile)
    }
  }

  /** INT64 TIMESTAMP(NANOS, adjustedToUTC) writer — the one spelling Spark
    * cannot produce (outputTimestampType stops at micros), via the
    * parquet-java example Group API shipped in Spark's own parquet jars. */
  private def writeNanos(df: org.apache.spark.sql.DataFrame, outDir: String): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64)
      .as(LTA.timestampType(true, LTA.TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LTA.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LTA.stringType()).named("props")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    Files.createDirectories(Paths.get(outDir))
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$outDir/part-00000.parquet"))
      .withConf(conf).build()
    val fac = new SimpleGroupFactory(schema)
    try df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().foreach { r =>
        val g = fac.newGroup()
        if (!r.isNullAt(0)) g.append("event_id", r.getLong(0))
        if (!r.isNullAt(1)) g.append("ts", r.getLong(1)) // already epoch nanos
        if (!r.isNullAt(2)) g.append("user_id", r.getLong(2))
        if (!r.isNullAt(3)) g.append("event_type", r.getString(3))
        if (!r.isNullAt(4)) g.append("value", r.getDouble(4))
        if (!r.isNullAt(5)) g.append("props", r.getString(5))
        writer.write(g)
      }
    finally writer.close()
  }

  // Every variant must load to the same logical schema (ts: bigint nanos)...
  test("all four physical spellings load to the bigint-nanos contract") {
    variants.foreach { v =>
      val df = Tables(spark, base.resolve(v).toString, "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType, s"variant $v ts type")
    }
  }

  // ...and produce row-identical query output.
  for (q <- probes) test(s"$q is invariant across ts physical spellings") {
    val expected = SparkEntry.queries(q)(spark, srcDir).collect().toSeq
    assert(expected.nonEmpty, s"$q returned no rows on the source dir")
    variants.foreach { v =>
      val got = SparkEntry.queries(q)(spark, base.resolve(v).toString).collect().toSeq
      assert(got == expected, s"$q output differs under the $v spelling")
    }
  }
}
